package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Deduplication operators for large-scale training-data pipelines —
  * additive capability beyond the reference's own surface (the reference's
  * closest analogue is DISTINCT / UNION dedup, `nodeUnique.c` /
  * `nodeSetOp.c`), designed Spark-first for the 100 TB case:
  *
  *  - exact dedup: hash-groupBy on a content digest — one shuffle on the
  *    digest, no driver state;
  *  - MinHash+LSH: shingle -> 16 minhashes -> 8 bands -> capped-bucket
  *    scan, so candidates only ever pair inside one (band, signature)
  *    bucket, never an O(n^2) cross join; exact Jaccard verification only
  *    touches candidate pairs;
  *  - SimHash: 48-bit signature, 4-band blocking (pigeonhole: any pair at
  *    Hamming distance <= 3 shares a band), verify with bit_count;
  *  - n-gram Jaccard: blocked pairwise compare inside small blocks;
  *  - embedding cosine near-dup: a sign-LSH banded candidate stage
  *    (the linear-output scale path, [[embeddingLshPairs]]) plus a
  *    blocked exact all-pairs audit query that serves as the recall
  *    oracle at small SF.
  *
  * Hot-bucket discipline (the duplicate-heavy corpora these operators
  * exist for): every banded pipeline FIRST collapses byte-identical
  * payloads to one representative per digest group ([[digestGroups]]) —
  * the dominant source of giant buckets — runs candidate generation over
  * representatives only, and expands qualifying rep-pairs back to member
  * pairs at the very end ([[expandPairs]]; similarity metrics depend only
  * on the payload, so every member inherits its representative's value
  * bit-exactly). Residual buckets of near-identical-but-distinct payloads
  * are bounded by [[cappedBucketPairs]]: above `maxBucket` members a
  * bucket degrades from all-pairs to a star around its minimum doc_id —
  * O(c) candidates instead of O(c^2), still connecting every member to
  * the duplicate cluster (union-find connectivity preserved).
  */
object Dedup extends QueryModule {

  /** Bucket-size bound of the capped-bucket scan. Generous enough that
    * honest buckets (distinct payloads sharing one LSH band) never hit it
    * at any tested SF; an adversarial corpus degrades gracefully instead
    * of producing an O(c^2) task. */
  private[graft] val MaxBucket = 4096

  /** Materialize a NARROW fan-out point (membership maps, signatures,
    * candidate pairs — O(n) x 2 longs or smaller) so each consuming branch
    * reads the materialized table instead of re-expanding the corpus-sized
    * subtree beneath it (exchange reuse shares the shuffle files, not the
    * post-shuffle recompute across branches). Checkpoint, not persist:
    * eager, lineage-truncated, and NOT registered in the CacheManager, so
    * repeated invocations never hit a stale plan-matched cache entry.
    * Never materialize WIDE intermediates (the corpus-sized bands table
    * measured 2.6x slower persisted).
    *
    * Two modes, conf-switched: with `spark.graft.checkpoint.dir` set the
    * blocks go through a RELIABLE `.checkpoint()` into that directory
    * (shared storage on a cluster), so losing an executor recomputes
    * nothing — the fault-tolerance mode a 100 TB run uses. Unset (the
    * local default) it is `localCheckpoint()`: executor-local blocks,
    * faster, but an executor loss kills the query. The system property
    * lets plan-audit specs disable truncation entirely to inspect full
    * lineage (ReadSchema pruning). */
  private[graft] def matNarrow(df: DataFrame): DataFrame =
    if (sys.props.get("graft.test.noCheckpoint").contains("true")) df
    else df.sparkSession.conf.getOption("spark.graft.checkpoint.dir") match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir appends a per-call UUID subdir; only (re)set
        // when the current dir is exactly the configured root or a child
        // of it (a substring test would false-positive on sibling paths
        // like <root>-old and silently checkpoint outside the configured
        // storage)
        val want = dir.stripSuffix("/")
        if (!sc.getCheckpointDir.exists(d =>
              d == want || d.startsWith(want + "/")))
          sc.setCheckpointDir(want)
        df.checkpoint()
      case None => df.localCheckpoint()
    }

  /** Fan a compute-heavy map-side stage out to the session's parallelism
    * WHEN the incoming partitioning is starved (a small-file scan can
    * coalesce to ~1 partition and serialize a per-row kernel — measured
    * at the sf1 probe). On a wide scan this is a no-op: no exchange is
    * added where the file layout already provides parallelism, which is
    * the 100 TB case. The probe reads the leaf scans' split counts from
    * the PRE-adaptive physical plan — driver-side file listing only.
    * (`df.rdd` would answer the same question, but under AQE it forces
    * getFinalPhysicalPlan, eagerly EXECUTING upstream broadcast/shuffle
    * stages that the real query then runs again — wasted work.) */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    val plan = df.queryExecution.sparkPlan
    // a plan that already shuffles produces shuffle-partition-count output
    // regardless of its leaf splits — repartitioning it again would add a
    // redundant exchange of the payload (leaf probe would misread e.g. a
    // sort-merge join over two small scans as starved)
    if (plan.exists(_.isInstanceOf[ShuffleExchangeLike])) return df
    // max over leaves: a broadcast join's output partitioning follows its
    // streamed (largest) scan; small dim scans must not mask starvation.
    // Unknown leaf types (local relations, in-memory scans) count as 1:
    // they are driver-materialized or cached small tables at our call
    // sites, where fanning out is the safe default.
    val parts = plan.collectLeaves().map {
      case f: FileSourceScanExec => f.inputRDD.getNumPartitions
      case r: RDDScanExec        => r.rdd.getNumPartitions
      case _                     => 1
    }.max
    if (parts * 2 < target) df.repartition(target) else df
  }

  /** Exact-payload pre-dedup: (doc_id, rep_id) membership, where rep_id is
    * the minimum doc_id sharing this digest. One shuffle on the digest.
    * NULL payloads digest to NULL — coalesced to a sentinel that no hex
    * digest can collide with, so null-payload docs form their own cluster
    * instead of being dropped by the null-unsafe equi-join (matches the
    * oracle's PARTITION BY, which groups NULLs together). */
  private[graft] def digestGroups(docs: DataFrame, digest: Column): DataFrame = {
    // r19: the key aggregates/shuffles as its 16-byte (32 for
    // concatenated pairs) BINARY value via unhex instead of the
    // 32/64-char hex string -- same groups (hex -> bytes is bijective
    // on md5 output), half the key bytes in the lane's widest exchange
    // (guide 2.3 "narrower types"). The null sentinel is a 1-byte array
    // no real digest can collide with (length differs).
    val members = docs.select(col("doc_id"),
      coalesce(unhex(digest), lit(Array[Byte](0))).as("dg"))
    val reps = members.groupBy("dg").agg(min("doc_id").as("rep_id"))
    members.join(reps, "dg").select(col("doc_id"), col("rep_id"))
  }

  /** The capped-bucket scan, over rows sorted by (bucket key, id) — the
    * Motion + Sort + one-pass shape of the reference's Unique node. A run
    * of at most maxBucket rows is buffered and paired all against all
    * (earlier row first, `star` false); a longer run pairs its head —
    * the bucket minimum, by the id sort — with every other member
    * (`star` true), streaming the members past the buffered prefix, so a
    * task never holds more than maxBucket rows however hot a bucket
    * gets. `pair` decides what a pair emits. */
  private def cappedRuns[R, O](rows: Iterator[R], maxBucket: Int)(
      sameBucket: (R, R) => Boolean,
      pair: (R, R, Boolean) => Option[O]): Iterator[O] = {
    val in = rows.buffered
    new Iterator[Iterator[O]] {
      def hasNext: Boolean = in.hasNext
      def next(): Iterator[O] = {
        val head = in.head
        def inRun = in.hasNext && sameBucket(head, in.head)
        val buf = scala.collection.mutable.ArrayBuffer.empty[R]
        while (inRun && buf.length < maxBucket) buf += in.next()
        if (!inRun)
          buf.indices.iterator.flatMap { i =>
            (i + 1 until buf.length).iterator.flatMap(j => pair(buf(i), buf(j), false))
          }
        else
          (buf.iterator.drop(1) ++ new Iterator[R] {
            def hasNext: Boolean = inRun
            def next(): R = in.next()
          }).flatMap(m => pair(head, m, true))
      }
    }.flatten
  }

  /** Candidate pairs from a bucket table (columns: keys..., doc_id), as
    * distinct (doc_a < doc_b). Buckets holding <= maxBucket rows emit all
    * intra-bucket pairs; oversized buckets emit a star around the
    * bucket's minimum doc_id — O(c) candidates, cluster connectivity
    * preserved (pair-level output above the cap is degraded: non-center
    * pairs are not emitted as candidates; see the spec and the simhash
    * note). A row with a null key never pairs.
    *
    * One shuffle on the keys, a sort by (keys, doc_id) within each
    * partition and one [[cappedRuns]] pass: the subtree feeding `buckets`
    * is planned once. Keys are compared by value, so they may mix atomic
    * types (int+long bands, string+int entity blocks).
    *
    * The star fallback is observable without extra passes: a
    * CollectMetrics node (`Dataset.observe`) counts the scan's star
    * pairs, surfaced to any QueryExecutionListener as metric
    * `star_candidates` — a silent parity divergence on adversarial
    * corpora shows up as a nonzero counter. */
  private[graft] def cappedBucketPairs(buckets: DataFrame, keys: Seq[String],
                                       maxBucket: Int): DataFrame = {
    val sp = buckets.sparkSession; import sp.implicits._
    val id = keys.length
    buckets.select((keys :+ "doc_id").map(col): _*)
      .filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .repartition(keys.map(col): _*)
      .sortWithinPartitions((keys :+ "doc_id").map(col): _*)
      .mapPartitions { it =>
        cappedRuns(it, maxBucket)(
          (a, b) => (0 until id).forall(i => a.get(i) == b.get(i)),
          (a, b, star) => {
            val (x, y) = (a.getLong(id), b.getLong(id))
            if (x < y) Some((x, y, star)) else None
          })
      }.toDF("doc_a", "doc_b", "star")
      .observe(s"star_fallback_${keys.mkString("_")}",
        count(when(col("star"), 1)).as("star_candidates"))
      .select("doc_a", "doc_b").distinct()
  }

  /** The SemDeDup drop law, one implementation for both semantic-dedup
    * lanes. `rows` holds (cell, id, v, nrm) in that column order, with
    * nrm = |v|^2 and (cell, id) unique. The result is the `vec_id` of
    * every row that has a witness: a lower id in the same cell whose
    * HALF_UP-6dp cosine reaches `tau`. A row dropped in several cells
    * appears once per cell. A pair whose cosine is NaN (a zero-norm
    * vector) is never a witness.
    *
    * One shuffle on cell, a sort by (cell, id), and one scan that appends
    * each cell to Spark's spillable row buffer, built with WindowExec's
    * thresholds from the session's conf. A jumbo cell spills through the
    * task's memory manager into spark.local.dir, not onto the heap. The
    * scan is block-nested: candidates are decoded in blocks of at most
    * the in-memory threshold; each block is checked against its own lower
    * ids in memory (the whole check, for a cell that fits in one block),
    * then against every earlier row in one sequential pass that stops once
    * each candidate has a witness. */
  private[graft] def cellWitnessDrops(rows: DataFrame, tau: Double): DataFrame = {
    val sp = rows.sparkSession; import sp.implicits._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection}
    import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
    val spec = org.apache.spark.sql.GraftBridge.windowBufferSpec(sp)
    val Array(cell, id, _, _) = rows.columns
    rows.as[(Long, Long, Array[Double], Double)]
      .repartition(col(cell))
      .sortWithinPartitions(col(cell), col(id))
      .mapPartitions { it =>
        val in = it.buffered
        val buf = spec.create()
        val toRow = UnsafeProjection.create(
          Array[DataType](LongType, ArrayType(DoubleType, false), DoubleType))
        Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
          val c = in.head._1
          buf.clear()
          while (in.hasNext && in.head._1 == c) {
            val (_, i, v, n) = in.next()
            buf.add(toRow(InternalRow(i, UnsafeArrayData.fromPrimitiveArray(v), n)))
          }
          cellWitnesses(buf, math.max(1, spec.inMemory), tau)
        }
      }.toDF("vec_id")
  }

  /** [[cellWitnessDrops]]'s block-nested scan of one cell, sorted by id. */
  private def cellWitnesses(cell: org.apache.spark.sql.GraftBridge.RowBuffer,
                            block: Int, tau: Double): Iterator[Long] = {
    def witness(va: Array[Double], na: Double, vb: Array[Double], nb: Double) =
      cosine6(va, na, vb, nb, tau) >= tau
    val candidates = cell.iterator
    Iterator.range(0, cell.length, block).flatMap { start =>
      val k = math.min(block, cell.length - start)
      val ids = new Array[Long](k)
      val vs = new Array[Array[Double]](k)
      val ns = new Array[Double](k)
      for (j <- 0 until k) {
        val r = candidates.next()
        ids(j) = r.getLong(0); vs(j) = r.getArray(1).toDoubleArray; ns(j) = r.getDouble(2)
      }
      val hit = new Array[Boolean](k)
      var pending = 0
      for (j <- 0 until k) {
        var i = 0
        while (i < j && !hit(j)) { hit(j) = witness(vs(i), ns(i), vs(j), ns(j)); i += 1 }
        if (!hit(j)) pending += 1
      }
      if (start > 0 && pending > 0) {
        // the pass stops checking once every candidate has a witness but
        // reads on to the end, where each spill reader closes itself
        val earlier = cell.passToEnd
        var e = 0
        while (earlier.hasNext) {
          val r = earlier.next()
          if (e < start && pending > 0) {
            val va = r.getArray(1).toDoubleArray; val na = r.getDouble(2)
            for (j <- 0 until k if !hit(j) && witness(va, na, vs(j), ns(j))) {
              hit(j) = true; pending -= 1
            }
          }
          e += 1
        }
      }
      (0 until k).iterator.filter(hit(_)).map(ids(_))
    }
  }

  /** Fails fast when an audit lane, quadratic or superlinear by
    * construction, is pointed at more embeddings than
    * `spark.graft.audit.maxRows` (default 1,000,000), unless
    * `spark.graft.audit=true` opts in. Reads the cached
    * [[graft.Tables.rowCount]], so a passing check runs no job. */
  private[graft] def requireAuditScale(s: SparkSession, dir: String,
                                       lane: String, instead: String): Unit =
    if (!s.conf.getOption("spark.graft.audit").contains("true")) {
      val maxRows = s.conf.getOption("spark.graft.audit.maxRows")
        .map(_.toLong).getOrElse(1000000L)
      val n = rowCount(s, dir, "embeddings")
      require(n <= maxRows, s"$lane ($n rows > $maxRows); use $instead at " +
        "scale, or set spark.graft.audit=true")
    }

  /** Expand rep-level qualifying pairs to member pairs. `memRep` maps every
    * doc to its digest-group representative; `withinMembers` is the subset
    * eligible for within-group pairs (identical payloads, so the metric is
    * the identity value `selfValue`); cross-group members inherit their
    * representatives' metric (payload-identical => metric-identical). */
  private[graft] def expandPairs(memRep: DataFrame, withinMembers: DataFrame,
                                 repPairs: DataFrame, valueName: String,
                                 selfValue: Column): DataFrame = {
    val cross = repPairs
      .join(memRep.select(col("rep_id").as("doc_a"), col("doc_id").as("ma")), "doc_a")
      .join(memRep.select(col("rep_id").as("doc_b"), col("doc_id").as("mb")), "doc_b")
      .select(least(col("ma"), col("mb")).as("doc_a"),
              greatest(col("ma"), col("mb")).as("doc_b"), col(valueName))
    val within = withinMembers.as("x").join(withinMembers.as("y"),
        col("x.rep_id") === col("y.rep_id") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
              selfValue.as(valueName))
    cross.unionAll(within)
  }

  /** Representative-only view of a table: docs whose doc_id IS their
    * group's rep_id (no extra shuffle — a filter on the membership map). */
  private[graft] def repsOnly(docs: DataFrame, memRep: DataFrame): DataFrame =
    docs.join(memRep.filter(col("doc_id") === col("rep_id"))
      .select("doc_id"), "doc_id")

  /** MinHash-LSH candidate generation over representative docs:
    * one-pass map-side minhash16 kernel -> 8 bands -> capped bucket
    * join. Factored out so the adversarial spec can assert the candidate
    * count directly.
    *
    * The signature stage is the codegen [[graft.functions.Minhash16]]
    * expression — a pure per-document function, so it runs with ZERO
    * shuffle (the previous shape exploded shingles and re-aggregated 16
    * minhashes through a corpus-sized groupBy; SigFnsSpec proves the
    * kernel bit-equal to that formula, including the < 3-words
    * no-shingles dropout, which surfaces here as an empty array). */
  private[graft] def minhashCandidates(repDocs: DataFrame,
                                       maxBucket: Int): DataFrame = {
    val bands = minhashBands(
      fanOut(repDocs.select(col("doc_id"), col("text"))))
    cappedBucketPairs(bands, Seq("band", "sig"), maxBucket)
  }

  /** Per-doc LSH band keys (doc_id, band, sig): the [[graft.functions
    * .Minhash16]] kernel's 16 minhashes grouped into 8 bands of 2 longs,
    * sig = xxhash64 of the band's two values — one LONG instead of the
    * r14 ":"-joined decimal string (~20+ bytes): the band table is the
    * widest shuffled intermediate of the lane, so the key is the
    * shuffle-width knob (r14 "Next #9"). A 64-bit hash collision
    * between two distinct (h1, h2) bands (~n²/2⁶⁵) can only ADD a
    * candidate pair, which exact-jaccard verification then discards —
    * recall is untouched, precision is verification's job, and the
    * oracle (full brute-force jaccard) never sees band keys at all.
    * Pure map-side (zero shuffle); no-shingle docs (< 3 words, the
    * kernel dropout) emit NO bands. Shared by the batch candidate stage
    * above and the streaming admission store
    * ([[graft.streaming.Streaming.streamingMinhashDedup]]), so batch
    * and stream can never disagree on a signature. */
  private[graft] def minhashBands(docs: DataFrame): DataFrame = {
    graft.functions.SigFns.register(docs.sparkSession)
    docs.select(col("doc_id"), call_function("minhash16", col("text")).as("mh"))
      .filter(size(col("mh")) === 16)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, 7), b -> " +
          "struct(b as band, xxhash64(mh[b*2], mh[b*2+1]) as sig))"))
        .as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  /** SimHash rep-level near-dup pairs (doc_a < doc_b, Hamming <= 3) over
    * the representatives of `memRep` — the edge set behind BOTH the
    * d_dedup_simhash audit query and [[Corpus]]'s connected-components
    * labeling (`d_dedup_cluster_assign_near`), factored so they provably
    * share one derivation.
    *
    * The signature stage is the one-pass map-side simhash48 kernel
    * (codegen; was a word-explode + 48-aggregate groupBy — a corpus-sized
    * shuffle for a pure per-document function; SigFnsSpec proves bit
    * equality). `sig` stays the narrow fan-out point (doc_id + one long,
    * consumed by banding AND both verification joins), materialized once
    * (see the minhash note; at cluster scale use reliable .checkpoint()). */
  private[graft] def simhashRepPairs(s: SparkSession, docs: DataFrame,
                                     memRep: DataFrame): DataFrame = {
    graft.functions.SigFns.register(s)
    val sig = matNarrow(fanOut(repsOnly(docs, memRep)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        call_function("simhash48", col("text")).as("sig")))
    // Block-permutation banding (Manku, Jain & Sarma, WWW'07 §3 — the
    // production simhash-dedup table scheme): the 48-bit signature splits
    // into six 8-bit blocks; Hamming <= 3 flips bits in at most 3 blocks,
    // so for every qualifying pair SOME 3-block subset is untouched —
    // keying each of the C(6,3) = 20 subsets (24-bit keys) preserves the
    // pigeonhole full-recall guarantee of the old 4 x 12-bit contiguous
    // bands while cutting the chance-collision candidate mass from
    // n^2/2^12 to n^2/2^24 per table: candidates scale with the actual
    // near-dup population, not quadratically with the corpus. 20n band
    // rows of (long, int, int) is the price — a narrow, linear shuffle.
    val bandExprs = (0 until 6).combinations(3).toSeq.zipWithIndex
      .map { case (blocks, b) =>
        val key = blocks.zipWithIndex
          .map { case (blk, pos) =>
            s"shiftleft(shiftright(sig, ${8 * blk}) & 255, ${8 * pos})" }
          .mkString(" | ")
        s"struct($b as band, ($key) as key)"
      }
    hammingPairs(sig, s"array(${bandExprs.mkString(", ")})")
  }

  /** Hamming <= 3 pairs (doc_a < doc_b, hamming) of a (doc_id, sig)
    * table: `bands` is an SQL expression over `sig` giving the array of
    * struct(band, key) bucket keys; capped-bucket candidates join both
    * signatures back and keep bit_count(sig_a ^ sig_b) <= 3. The simhash
    * lane and m_phash_dedup differ only in `bands`. */
  private[graft] def hammingPairs(sig: DataFrame, bands: String): DataFrame = {
    val banded = sig.select(col("doc_id"), explode(expr(bands)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    cappedBucketPairs(banded, Seq("band", "key"), MaxBucket)
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(expr("sig_a ^ sig_b")).as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** Sign-LSH banding parameters for the embedding near-dup scale path:
    * 60 hyperplanes from the shared [[Hyperplanes]] family, banded as
    * 5 bands x 12 bits (the signature stays one long). For a pair at
    * angle theta (per-plane agreement p = 1 - theta/pi), candidate
    * recall is 1 - (1 - p^12)^5 — designed for genuine near-duplicates:
    * ~0.9998 at cos 0.999, ~0.57 at cos 0.9, and intentionally low far
    * from 1 (background correlation at the 0.45 audit threshold is not
    * duplication).
    *
    * Band WIDTH is the n-dependent knob, and this is the load-bearing
    * scaling law: in-bucket verification work is sum-over-buckets of
    * C(k,2), so with 2^bits keys per band the background term is
    * ~bands * n^2 / 2^(bits+1) — QUADRATIC at fixed bits. Keeping
    * buckets bounded needs bits ~ log2(n / targetBucketSize): the r14
    * fourth-decade probe caught the old 6x8-bit geometry at 12.8x per
    * decade (500k vectors pack 2k-row buckets at 256 keys/band); 12-bit
    * keys hold the same decade at a bounded bucket (~122 rows average).
    * Past ~10^8 vectors, move to 16-bit bands (4 bands keeps the
    * signature in a long; recall at cos 0.999 is still ~0.998) or shard
    * the corpus — drops only need a lower-id witness, so shards are
    * independent. */
  private[graft] val EmbBands = 5
  private[graft] val EmbBandBits = 12

  /** High-recall alternate geometry over the SAME 60-plane signature:
    * 10 bands x 6 bits. The recall knob the margin regime buys with it
    * (banding law, per-plane agreement p = 1 - theta/pi): at the
    * SemTau=0.4 margin (p ~ 0.63) candidate recall rises from
    * 1-(1-p^12)^5 ~ 0.02 to 1-(1-p^6)^10 ~ 0.48 — and the COST is the
    * same law read at the bucket axis: 2^6 = 64 keys per band packs
    * n/64 rows per bucket, so the geometry degrades to the star path
    * orders of magnitude earlier (~260k vectors at the 4096 cap vs
    * ~17M for 12-bit keys). A user choosing it buys margin recall at
    * small-to-mid corpus sizes; the measured recall-vs-cost table lives
    * in SimilaritySpec + SCALING.md (r16). */
  private[graft] val EmbBandsHR = 10
  private[graft] val EmbBandBitsHR = 6

  /** The SCALE-PROPER recall lift (r17): widen the signature instead of
    * shrinking the keys. 10 bands x 12 bits over 120 planes — the first
    * 60 planes ARE the 5x12 signature (bands 0-4 identical, so the
    * candidate set is a provable superset of the default's), and five
    * more 12-bit bands over fresh planes double the band count at
    * UNCHANGED key space (4096/band). By the banding law, candidate
    * recall at per-plane agreement p goes 1-(1-p^12)^5 -> 1-(1-p^12)^10
    * (~2x in the SemTau margin where p^12 is small), while the
    * background-collision term stays ~n^2/2^13 PER BAND — the bucket
    * degradation point is the SAME ~17M vectors as the default, not the
    * hr knob's ~260k. Cost is ~2x band fan-out (10 vs 5 payload
    * copies); the measured recall-vs-cost row lives beside the 10x6 row
    * in SCALING.md. Signature no longer fits one long: the fused
    * [[graft.functions.SignBandKeys]] kernel emits the per-band keys
    * directly (same bit layout as `(sig >> b*bits) & mask`). */
  private[graft] val EmbBandsWide = 10
  private[graft] val EmbBandBitsWide = 12

  /** EmbBands*EmbBandBits-bit (60-bit at the current 5x12 geometry)
    * sign signature of an `array<double>` vector: bit j is
    * sign(v . plane_j). Pure per-row map-side work — zero shuffle, like
    * the minhash16 / simhash48 kernels. Fused into ONE native
    * expression over the stacked plane matrix (r15): the previous form
    * — 60 separate `vec_dot(v, <plane literal>)` calls — was measured
    * as essentially the WHOLE x1000 lane cost (~80 of 77-93 s; SCALING.md
    * "Round 15: the embedding sign-LSH lanes were 95% signature cost"),
    * because every call re-materialized both the vector and the boxed
    * literal array. [[graft.functions.SignSig]] materializes
    * v once and keeps the planes as a primitive codegen reference
    * object; sign decisions (and the DuckDB oracle) are bit-identical. */
  private[graft] def embeddingSig(v: Column): Column = {
    val dim = Hyperplanes.dim
    val flat = new Array[Double](EmbBands * EmbBandBits * dim)
    for (j <- 0 until EmbBands * EmbBandBits; i <- 0 until dim)
      flat(j * dim + i) = Hyperplanes.plane(j)(i)
    org.apache.spark.sql.GraftBridge.exprColumn(
      graft.functions.SignSig(
        org.apache.spark.sql.GraftBridge.columnExpr(v), flat, dim))
  }

  /** Every vector exploded to its [[EmbBands]] (band, key) bucket keys
    * WITH the payload (v, nrm) carried along. Carrying the payload is the
    * load-bearing choice: verification then happens INSIDE the bucket
    * group, so total shuffle is bands x corpus rows — independent of how
    * dense the candidate space turns out to be. The first cut of this
    * operator materialized candidate ID pairs and joined the vectors back
    * per pair; the bench's sf1 scale leg caught it at 26x time for 10x
    * data on a correlation-dense corpus (candidate-pair joins shuffle
    * O(candidates) x payload — quadratic in the worst case). */
  private[graft] def embeddingBanded(e: DataFrame,
                                     bands: Int = EmbBands,
                                     bits: Int = EmbBandBits): DataFrame = {
    graft.functions.VectorFns.register(e.sparkSession)
    if (bands * bits <= EmbBands * EmbBandBits) {
      // packed-long signature: all bands are shift/mask views of ONE
      // 60-bit SignSig word (the default and hr geometries)
      val mask = (1 << bits) - 1
      fanOut(e.select(col("vec_id"), col("v")))
        .select(col("vec_id").as("doc_id"), col("v"),
          call_function("vec_norm_sq", col("v")).as("nrm"),
          embeddingSig(col("v")).as("sig"))
        .select(col("doc_id"), col("v"), col("nrm"), explode(expr(
            s"transform(sequence(0, ${bands - 1}), b -> " +
              s"struct(b as band, shiftright(sig, b*$bits) & $mask as key))"))
            .as("bk"))
        .select(col("doc_id"), col("v"), col("nrm"),
          col("bk.band").as("band"), col("bk.key").as("key"))
    } else {
      // wide signature (> 64 planes, e.g. the 10x12 geometry): the
      // fused kernel emits per-band keys directly as array<long>;
      // posexplode's position IS the band id, so the downstream
      // (band, key) shuffle shape — and the star/cap semantics behind
      // it — are identical to the packed path's
      fanOut(e.select(col("vec_id"), col("v")))
        .select(col("vec_id").as("doc_id"), col("v"),
          call_function("vec_norm_sq", col("v")).as("nrm"),
          embeddingBandKeys(col("v"), bands, bits).as("keys"))
        .select(col("doc_id"), col("v"), col("nrm"),
          posexplode(col("keys")).as(Seq("band", "key")))
    }
  }

  /** Wide-geometry per-band keys: one fused [[graft.functions
    * .SignBandKeys]] pass over a `bands * bits`-plane matrix from the
    * same deterministic [[Hyperplanes]] family (plane j is plane j in
    * EVERY geometry, which is what makes wide candidate sets supersets
    * of narrower same-bits ones). */
  private[graft] def embeddingBandKeys(v: Column, bands: Int,
                                       bits: Int): Column = {
    val dim = Hyperplanes.dim
    val flat = new Array[Double](bands * bits * dim)
    for (j <- 0 until bands * bits; i <- 0 until dim)
      flat(j * dim + i) = Hyperplanes.plane(j)(i)
    org.apache.spark.sql.GraftBridge.exprColumn(
      graft.functions.SignBandKeys(
        org.apache.spark.sql.GraftBridge.columnExpr(v), flat, dim,
        bands, bits))
  }

  /** HALF_UP 6-dp round — the keep/drop authority both engines share. */
  private[graft] def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Embedding near-dup pairs via sign-LSH banding + IN-BUCKET exact
    * cosine verification — the linear-output scale path (the all-pairs
    * block-triangle query stays as the recall audit at small SF).
    * Output: (id_a < id_b, cos) with HALF_UP-6dp cos >= threshold.
    *
    * Same capped-bucket discipline as [[cappedBucketPairs]], fused with
    * verification: buckets <= maxBucket verify all intra-bucket pairs in
    * a tight per-task kernel (bounded buffer: maxBucket rows x vector),
    * emitting only matches; oversized buckets degrade to the verified
    * star (bucket-min vs every member — O(bucket) output). Star is not
    * an error path: on a corpus that IS one giant near-dup family (the
    * x1000 probe's regime — 100% of band rows landed in oversized
    * buckets, SCALING.md "Round 14: fourth decade for the remaining dedup
    * lanes") it is the production answer, emitting cluster
    * assignments instead of the quadratic within-family pair set, at
    * the documented cost that non-center member pairs are not emitted.
    *
    * A pair sharing several bands yields bit-identical (id_a, id_b,
    * cos) rows in each — the dot products are sequential index-order
    * sums in both paths and both round HALF_UP — so the final
    * distinct() collapses them exactly. */
  private[graft] def embeddingLshPairs(e: DataFrame, maxBucket: Int,
                                       threshold: Double,
                                       bands: Int = EmbBands,
                                       bits: Int = EmbBandBits): DataFrame =
    embeddingLshPairsRaw(e, maxBucket, threshold, bands, bits).distinct()

  /** The drop-ID projection for SemDeDup consumers: only distinct id_b
    * survives, so the pair-level distinct (a full-width extra
    * aggregation over (id_a, id_b, cos)) is skipped and the dedup
    * happens on the single column that matters. Same set by
    * construction: distinct(project(x)) == project(distinct(x)) for the
    * projected column. */
  private[graft] def embeddingLshDropIds(e: DataFrame, maxBucket: Int,
                                         threshold: Double,
                                         bands: Int = EmbBands,
                                         bits: Int = EmbBandBits): DataFrame =
    embeddingLshPairsRaw(e, maxBucket, threshold, bands, bits)
      .select(col("id_b").as("vec_id")).distinct()

  /** HALF_UP-6dp cosine of va and vb, given their squared norms, when it
    * may reach `threshold`; NaN otherwise, so `>= threshold` fails, as it
    * does for the NaN of a zero-norm vector. HALF_UP to 6dp moves a value
    * by at most 5e-7 (+1e-7 headroom against the guard constant itself
    * landing one ulp high), so only near-threshold values pay the
    * BigDecimal round-trip. */
  private def cosine6(va: Array[Double], na: Double, vb: Array[Double],
                      nb: Double, threshold: Double): Double = {
    var d = 0.0; var k = 0
    val n = math.min(va.length, vb.length)
    while (k < n) { d += va(k) * vb(k); k += 1 }
    val raw = d / math.sqrt(na * nb)
    if (raw >= threshold - 6e-7) round6(raw) else Double.NaN
  }

  /** (id_a < id_b, cos) of two banded rows (band, key, id, v, nrm) when
    * their HALF_UP-6dp cosine reaches `threshold`. */
  private def cosinePair(a: (Int, Long, Long, Array[Double], Double),
                         b: (Int, Long, Long, Array[Double], Double),
                         threshold: Double): Option[(Long, Long, Double)] = {
    val cos = cosine6(a._4, a._5, b._4, b._5, threshold)
    if (cos >= threshold)
      Some(if (a._3 < b._3) (a._3, b._3, cos) else (b._3, a._3, cos))
    else None
  }

  private def embeddingLshPairsRaw(e: DataFrame, maxBucket: Int,
                                   threshold: Double,
                                   bands: Int, bits: Int): DataFrame = {
    val sp = e.sparkSession; import sp.implicits._
    // ONE payload shuffle: co-locate each (band, key) bucket, sort its run
    // by doc_id — which makes the run head the star center — and verify
    // inside the [[cappedRuns]] scan. The rows stay typed (Dataset
    // mapPartitions) rather than InternalRow: an InternalRow variant
    // measured the same and severed the plan behind a Scan ExistingRDD,
    // hiding the banding subtree from EXPLAIN and the plan snapshots.
    embeddingBanded(e, bands, bits)
      .select(col("band").cast("int"), col("key").cast("long"),
              col("doc_id"), col("v"), col("nrm"))
      .as[(Int, Long, Long, Array[Double], Double)]
      .repartition(col("band"), col("key"))
      .sortWithinPartitions(col("band"), col("key"), col("doc_id"))
      .mapPartitions { it =>
        cappedRuns(it, maxBucket)((a, b) => a._1 == b._1 && a._2 == b._2,
          (a, b, _) => cosinePair(a, b, threshold))
      }.toDF("id_a", "id_b", "cos")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: digest-groupBy; reports per-source doc vs distinct-text
    // counts (the "how many would dedup remove" report).
    "d_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             // unhex: distinct over 16-byte binary, not 32-char hex
             countDistinct(unhex(md5(col("text").cast("binary")))).as("n_unique"),
             (count(lit(1)) -
              countDistinct(unhex(md5(col("text").cast("binary"))))).as("n_dups"))
        .orderBy(col("source"))
    }),

    // Cluster assignment — the O(n)-output scale path: every doc mapped to
    // its exact-duplicate cluster (rep = min doc_id per content digest),
    // instead of materializing O(c^2) duplicate PAIRS per cluster. This is
    // what a 100 TB dedup job actually emits; the pair queries below are
    // the audit/verification view.
    "d_dedup_cluster_assign" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      digestGroups(docs, md5(col("text").cast("binary")))
        .select(col("doc_id"), col("rep_id").as("cluster_id"),
          (col("doc_id") =!= col("rep_id")).cast("int").as("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // MinHash + LSH near-dup pairs, exact-verified at jaccard >= 0.8.
    // Pipeline: exact pre-dedup -> rep-level LSH (capped buckets) ->
    // exact verification on candidate reps -> expand to member pairs.
    "d_dedup_minhash_lsh" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // membership map and candidate pairs are the two NARROW intermediates
      // every later stage fans out from (memRep: n x 2 longs; cand:
      // O(candidates) x 2 longs) — materialized once via matNarrow (full
      // rationale there); without it each consuming branch re-expands the
      // corpus-sized digest/shingle/minhash subtree (measured ~1.8x slower
      // at sf0.1).
      val memRep = matNarrow(digestGroups(docs, md5(col("text").cast("binary"))))
      val repDocs = repsOnly(docs, memRep)
      val cand = matNarrow(minhashCandidates(repDocs, MaxBucket))
      // exact verification on candidate docs only: the candidate set
      // prunes the documents scan BEFORE shingling (broadcast semi-join
      // on the narrow table), so the explode+distinct for verification
      // touches candidate docs only — at 100 TB the second pass over the
      // corpus is candidate-sized, not corpus-sized
      val candDocs = cand.select(col("doc_a").as("doc_id"))
        .union(cand.select(col("doc_b").as("doc_id"))).distinct()
      // shingles as 16-byte md5 digests off the fused Md5Windows kernel
      // (k=3 windows ARE the concat_ws(' ', w[i..i+2]) shingles — the
      // zero-copy span argument in its scaladoc): the HOF explode this
      // replaces evaluated interpreted per shingle (~68 µs each — 82 s
      // executor-CPU at the x10 probe, 60% of the lane); the kernel
      // digests in place under codegen, and the intersection join and
      // size counts run over (doc_id, 16-byte dg) instead of shingle
      // STRINGS — the same md5-injectivity trust the digestGroups
      // pre-dedup already rests on, so |A∩B|/|A∪B| is unchanged.
      val sh = docs
        .join(broadcast(candDocs), "doc_id")
        .select(col("doc_id"),
          explode(call_function("md5_windows", col("text"), lit(3))).as("x"))
        .select(col("doc_id"), col("x.dg").as("sh"))
        .distinct()
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = cand
        .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sh.as("sb"), col("doc_b") === col("sb.doc_id") &&
                           col("sa.sh") === col("sb.sh"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      // jaccard as half-up integer micros: i/u is an exact rational, and
      // float ROUND can land exactly on a round-half boundary (engines
      // then disagree by 1 ulp); integer division is bit-identical.
      val repPairs = inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
        .withColumn("u", col("sza") + col("szb") - col("inter"))
        .select(col("doc_a"), col("doc_b"),
          expr("(2000000 * inter + u) div (2 * u)").as("jaccard_u"))
        .filter(col("jaccard_u") >= 800000)
      // identical texts: jaccard == 1 exactly — (2e6*u + u) div (2u) =
      // 1000000 — but only docs with >= 3 words have shingles at all
      // (matches the oracle's empty-list NULL-division dropout).
      val eligible = docs.filter(size(split(col("text"), " ")) >= 3)
        .select("doc_id")
      expandPairs(memRep, memRep.join(eligible, "doc_id"), repPairs,
          "jaccard_u", lit(1000000L))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // SimHash near-dup: 48-bit signature over word hashes, Manku-style
    // block-permutation blocking (20 tables of 3-of-6 8-bit blocks — see
    // simhashRepPairs), Hamming <= 3 verified with bit_count. Word hashes
    // come from md5 (an engine-independent digest), so the oracle
    // reproduces the signatures bit-exactly and brute-forces the same
    // pair set — and any 3 flipped bits leave some keyed 3-block subset
    // untouched (pigeonhole), guaranteeing full recall at distance <= 3,
    // making LSH output == brute force output exactly BELOW the bucket cap. A
    // bucket driven past MaxBucket distinct payloads degrades to star
    // candidates around the bucket minimum: connectivity is preserved but
    // qualifying pairs between two non-center members are not emitted, so
    // pair output can under-report vs brute force on adversarial corpora
    // (observable via the star_candidates CollectMetrics counter). Same
    // pre-dedup + capped buckets + expansion discipline as minhash
    // (identical text => identical signature => Hamming 0).
    "d_dedup_simhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val memRep = matNarrow(digestGroups(docs, md5(col("text").cast("binary"))))
      expandPairs(memRep, memRep, simhashRepPairs(s, docs, memRep),
          "hamming", lit(0).cast("int"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Word-bigram Jaccard inside same-source blocks (blocked pairwise),
    // with exact pre-dedup chained in front: the bigram-intersection join
    // runs over distinct (source, text) representatives only.
    "d_dedup_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val memRep = matNarrow(digestGroups(docs,
        concat(md5(col("source").cast("binary")), md5(col("text").cast("binary")))))
      // < 2 words -> no bigrams (matches oracle's empty range); also keeps
      // sequence() ascending under ANSI mode (see minhash note above).
      // bigrams as Md5Windows k=2 digests (same fused-kernel +
      // md5-injectivity rationale as the minhash lane's shingles; the
      // (source, g) block join and the intersection counts are
      // digest-equality, bit-equal outcomes to string equality)
      graft.functions.SigFns.register(s)
      val bg = repsOnly(docs, memRep)
        .select(col("doc_id"), col("source"),
          explode(call_function("md5_windows", col("text"), lit(2))).as("x"))
        .select(col("doc_id"), col("source"), col("x.dg").as("g"))
        .distinct()
      val sizes = bg.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = bg.as("a").join(bg.as("b"),
          col("a.source") === col("b.source") && col("a.g") === col("b.g") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      // integer-micros jaccard, same rationale as the minhash variant
      val repPairs = inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
        .withColumn("u", col("sza") + col("szb") - col("inter"))
        .select(col("doc_a"), col("doc_b"),
          expr("(2000000 * inter + u) div (2 * u)").as("jaccard_u"))
        .filter(col("jaccard_u") >= 500000)
      val eligible = docs.filter(size(split(col("text"), " ")) >= 2)
        .select("doc_id")
      expandPairs(memRep, memRep.join(eligible, "doc_id"), repPairs,
          "jaccard_u", lit(1000000L))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Entity-resolution dedup (fuzzy matching, the record-linkage family):
    // block on (first two words, head-length band) — the length band
    // de-Zipfs natural-language blocking keys ("the quick..."-class blocks
    // split by length) and is provably lossless for this predicate: each
    // doc lands in bands floor(len/16) and floor(len/16)+1, and
    // levenshtein(a, b) <= 12 forces |len(a)-len(b)| <= 12 < 16, so every
    // qualifying pair's band sets overlap. Candidates verified with edit
    // distance over a bounded prefix (codegen'd levenshtein; the 60-char
    // cap bounds the O(len^2) DP cost per pair regardless of document
    // size). Exact pre-dedup on (blk, head) collapses identical prefixes
    // (edit distance 0) before blocking.
    "d_dedup_entity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("blk"),
          substring(col("text"), 1, 60).as("head"))
      val memRep = matNarrow(digestGroups(d,
        concat(md5(col("blk").cast("binary")), md5(col("head").cast("binary")))))
      val repD = matNarrow(repsOnly(d, memRep))
      val banded = repD.select(col("doc_id"), col("blk"),
        explode(expr("array(length(head) div 16, length(head) div 16 + 1)"))
          .as("band"))
      val repPairs = cappedBucketPairs(banded, Seq("blk", "band"), MaxBucket)
        .join(repD.select(col("doc_id").as("doc_a"), col("head").as("ha")), "doc_a")
        .join(repD.select(col("doc_id").as("doc_b"), col("head").as("hb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("ha"), col("hb")).as("edit_dist"))
        .filter(col("edit_dist") <= 12)
      expandPairs(memRep, memRep, repPairs, "edit_dist", lit(0).cast("int"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Embedding-cosine near-dup pairs (exact all-pairs; the approximate
    // LSH-bucketed paths live in Similarity). Threshold on the ROUNDED
    // value so both engines make identical keep/drop decisions.
    //
    // Scale design — blocked all-pairs ("block triangle" join), fully
    // executor-side (no driver collect, no corpus broadcast):
    //   * each vector hashes into one of B blocks;
    //   * a tiny B*(B+1)/2-row block-pair table is broadcast; each row
    //     replicates to the B block pairs it participates in (shuffle is
    //     O(n*B) rows — at 100 TB raise B so a block fits one task);
    //   * each (b1,b2) task compares only its two bounded blocks in a
    //     primitive-array kernel, emitting only above-threshold pairs.
    // Exact semantics, O(n^2) dot products distributed over B(B+1)/2
    // independent tasks, per-task memory bounded by 2*n/B rows by
    // construction. Rounding replicates Spark/DuckDB ROUND (HALF_UP).
    "d_dedup_embedding" -> ((s, dir) => {
      val sp = s; import sp.implicits._
      val nBlocks = 8
      // Misuse guard: this is the AUDIT path — O(n^2) dot products by
      // construction; its production sibling is d_dedup_embedding_lsh.
      // Fail fast above audit scale so the quadratic path can't be
      // pointed at a big input by accident; `spark.graft.audit=true`
      // (or a raised `spark.graft.audit.maxRows`) opts in explicitly.
      requireAuditScale(s, dir, "d_dedup_embedding is the O(n^2) audit path",
        "d_dedup_embedding_lsh")
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
                pmod(hash(col("vec_id")), lit(nBlocks)).cast("int").as("blk"))
      val bp = s.createDataFrame(
          (0 until nBlocks).flatMap(b1 => (b1 until nBlocks).map(b2 => (b1, b2))))
        .toDF("b1", "b2")
      val rep = e.join(broadcast(bp),
          col("blk") === col("b1") || col("blk") === col("b2"))
      rep.select(col("b1"), col("b2"), col("blk"), col("vec_id"), col("v"))
        .as[(Int, Int, Int, Long, Array[Double])]
        .groupByKey(r => (r._1, r._2))
        .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Int, Long, Array[Double])]) =>
          val (b1, b2) = key
          // bounded materialization: a group holds at most the two blocks
          // (<= 2*n/B rows) — the B knob is exactly the executor-memory
          // bound, unlike a whole-corpus broadcast.
          val rows = it.toArray.map { r =>
            val v = r._5
            var n = 0.0; var i = 0
            while (i < v.length) { n += v(i) * v(i); i += 1 }
            (r._4, v, n, r._3)
          }
          val left = if (b1 == b2) rows else rows.filter(_._4 == b1)
          val right = if (b1 == b2) rows else rows.filter(_._4 == b2)
          // tight while-loops with a match-only buffer: the pair space is
          // O(|block|^2) (~10^8 at sf1), so even one small allocation per
          // PAIR dominates the dot products — only matches (rare) allocate
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var i = 0
          while (i < left.length) {
            val a = left(i)
            var j = if (b1 == b2) i + 1 else 0
            while (j < right.length) {
              val b = right(j)
              val va = a._2; val vb = b._2
              var d = 0.0; var k = 0
              val n = math.min(va.length, vb.length)
              while (k < n) { d += va(k) * vb(k); k += 1 }
              val raw = d / math.sqrt(a._3 * b._3)
              // round6 is a BigDecimal round-trip — at O(|block|^2) pairs
              // it IS the kernel cost. HALF_UP to 6dp moves a value by at
              // most 5e-7, so values safely below threshold-5e-7 can skip
              // it; the rounded compare stays the keep/drop authority.
              // 6e-7 (not 5e-7) slack is defensive headroom: the guard is
              // evaluated in double, and the extra 1e-7 guarantees the
              // computed constant sits strictly below the exact boundary
              // 0.4499995 even if `0.45 - slack` lands one ulp high —
              // cheap insurance, not a fix for an observed miss.
              if (raw >= 0.45 - 6e-7) {
                val cos = round6(raw)
                if (cos >= 0.45) {
                  if (a._1 < b._1) out += ((a._1, b._1, cos))
                  else out += ((b._1, a._1, cos))
                }
              }
              j += 1
            }
            i += 1
          }
          out.iterator
        }.toDF("id_a", "id_b", "cos")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Embedding near-dup, sign-LSH scale path: banded bucketing with
    // IN-BUCKET exact cosine verification (see [[embeddingLshPairs]] —
    // shuffle is bands x corpus, work is per-bucket pairs, output is
    // matches only; never O(n^2) pair-join traffic). The DuckDB oracle
    // replicates the identical banding predicate over the identical
    // plane literals, so the hash check verifies the whole pipeline
    // bit-exactly BELOW the bucket cap (the oracle deliberately does
    // not model the star degradation — above MaxBucket the operator
    // trades recall for boundedness, the same documented trade as the
    // minhash/simhash caps; EmbeddingLshSpec pins that regime's exact
    // star output). EmbeddingLshSpec also proves recall is complete on
    // a planted near-duplicate corpus (LSH output == all-pairs output),
    // which is the regime this operator exists for (see EmbBands
    // recall math).
    "d_dedup_embedding_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      embeddingLshPairs(e, MaxBucket, 0.45)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SemDeDup by sign-LSH candidates — the LINEAR successor to
    // d_semdedup_probes (Similarity.scala's two-level sampled-anchor
    // lane, pair term O(n^(4/3))): candidate generation is the banded
    // sign-LSH of d_dedup_embedding_lsh (one payload shuffle, bounded
    // buckets, star degrade above the cap), and the DROP POLICY is
    // SemDeDup's (Abbas et al. 2023, arXiv:2303.09540, same contract as
    // Similarity.semdedupDetail): b is dropped iff some LOWER-id a
    // shares a band bucket at cosine >= SemTau. embeddingLshPairs
    // already orients every verified pair (id_a < id_b), so the drop
    // set is exactly the distinct id_b side. Output is the same
    // hash-checked global survivor summary as d_semdedup_probes — n,
    // dropped, kept, and the md5 digest of the sorted dropped-id list —
    // so the oracle compare proves the exact drop SET.
    //
    // Scale role (r14 VERDICT #1): probes measures exactly its designed
    // n^(4/3) exponent; past its ~10^9-vector crossover SCALING.md
    // prescribed "sign-LSH banding feeding the same cosine-threshold
    // lower-id drop" as the linear path — this lane IS that path, as a
    // measured green row instead of prose. Candidate recall differs by
    // construction: probes recalls pairs its fine cells co-locate
    // (measured 0.69 at sf0.01), sign-LSH recalls pairs sharing one of
    // EmbBands 12-bit sign bands (recall rises toward 1 with cosine —
    // at the SemTau=0.4 margin it is the banding recall documented at
    // EmbBands; SimilaritySpec reports both side by side).
    "d_semdedup_lsh" -> ((s, dir) =>
      semdedupLshSummary(s, dir, EmbBands, EmbBandBits)),

    // The RECALL KNOB beside d_semdedup_lsh (r16): same 60-plane
    // signature, banded 10x6 instead of 5x12. The margin regime
    // (cos 0.4-0.6, where ALL small-SF victims sit) buys candidate
    // recall per the banding law (~0.02 -> ~0.48 at the SemTau margin);
    // the cost is 64-key bands degrading to the star path ~64x earlier
    // in corpus size. SimilaritySpec publishes the measured
    // recall-vs-cost table; a user picks the geometry by corpus size
    // and how much the margin matters.
    "d_semdedup_lsh_hr" -> ((s, dir) =>
      semdedupLshSummary(s, dir, EmbBandsHR, EmbBandBitsHR)),

    // The SCALE-PROPER recall lift (r17): 10 bands x 12 bits over a
    // WIDENED 120-plane signature (see EmbBandsWide). Where the hr knob
    // buys margin recall by shrinking keys (64-key buckets degrade to
    // the star ~260k vectors), this one buys it by adding bands at
    // unchanged 4096-key buckets — the degradation point stays the
    // default geometry's ~17M vectors, so the recall lift survives
    // corpus growth. Bands 0-4 are bit-identical to d_semdedup_lsh's
    // (same plane family), so its candidate set — and hence drop set —
    // is a provable superset of the default's (SimilaritySpec pins the
    // monotonicity, the banding contract, and the measured recall
    // beside both other geometries).
    "d_semdedup_lsh_wide" -> ((s, dir) =>
      semdedupLshSummary(s, dir, EmbBandsWide, EmbBandBitsWide))
  )

  /** Survivor summary for the sign-LSH SemDeDup lane at a given banding
    * geometry: n / dropped / kept and the md5 digest of the sorted
    * dropped-id list (the digest proves the exact drop SET against the
    * oracle's literal replication of the banding). */
  private def semdedupLshSummary(s: SparkSession, dir: String,
                                 bands: Int, bits: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // drop-ID projection (not the pair view): the pair-level distinct
    // would be redundant work for this consumer — only distinct id_b
    // feeds the drop set (r16, VERDICT brief #6)
    val drops = embeddingLshDropIds(e, MaxBucket, Similarity.SemTau,
        bands, bits)
      .withColumn("is_drop", lit(1))
    e.join(drops, Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n"),
        count(col("is_drop")).as("dropped"),
        (count(lit(1)) - count(col("is_drop"))).as("kept"),
        md5(concat_ws(",",
          transform(
            sort_array(collect_list(when(col("is_drop") === 1,
              col("vec_id")))),
            _.cast("string")))).as("dropped_digest"))
  }

  /** The 48-bit sign signature as DuckDB SQL over the SAME plane literals
    * the Spark plan embeds — both engines compute sequential dot products
    * in index order, so every sign decision (and hence every band key) is
    * bit-identical. */
  private def embSigSql: String =
    (0 until EmbBands * EmbBandBits).map { j =>
      s"(CASE WHEN list_dot_product(v, ${Hyperplanes.planeSql(j)}) > 0" +
        s" THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** "shares at least one band" predicate between aliases a and b. */
  private def embBandSql: String = embBandSqlAt(EmbBands, EmbBandBits)

  private def embBandSqlAt(bands: Int, bits: Int): String =
    (0 until bands).map { b =>
      val sh = b * bits
      val mask = (1 << bits) - 1
      s"((a.sig >> $sh) & $mask) = ((b.sig >> $sh) & $mask)"
    }.mkString(" OR ")

  /** The sign-LSH SemDeDup oracle at a given banding geometry: literal
    * replication of signature, shares-a-band candidate set, cosine drop
    * policy, and drop-set digest. */
  private def semdedupLshOracle(bands: Int, bits: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    list_reduce(list_prepend(0.0, CAST(embedding AS DOUBLE[])),
       |                (acc, x) -> acc + x * x) AS nrm
       |  FROM embeddings),
       |s AS (SELECT vec_id, v, nrm, CAST($embSigSql AS BIGINT) AS sig FROM e),
       |drops AS (
       |  SELECT DISTINCT b.vec_id AS bid
       |  FROM s a JOIN s b ON a.vec_id < b.vec_id AND (${embBandSqlAt(bands, bits)})
       |  WHERE ROUND(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 6)
       |    >= ${Similarity.SemTau})
       |SELECT (SELECT COUNT(*) FROM e) AS n,
       |  (SELECT COUNT(*) FROM drops) AS dropped,
       |  (SELECT COUNT(*) FROM e) - (SELECT COUNT(*) FROM drops) AS kept,
       |  md5(coalesce((SELECT string_agg(CAST(bid AS VARCHAR), ','
       |    ORDER BY bid) FROM drops), '')) AS dropped_digest""".stripMargin

  /** The sign-LSH SemDeDup oracle for WIDE geometries (> 63 planes,
    * where a single BIGINT sig can't carry the signature): each band's
    * key is computed directly from its own plane dots — bit k of k{b} =
    * sign(list_dot_product(v, plane_{b*bits+k})) — which is the exact
    * per-band view `(sig >> b*bits) & mask` takes of the packed form.
    * Same plane literals, same sequential dot order, same drop policy
    * and digest as [[semdedupLshOracle]]. */
  private def semdedupLshOracleKeys(bands: Int, bits: Int): String = {
    val keyCols = (0 until bands).map { b =>
      val e = (0 until bits).map { k =>
        val j = b * bits + k
        s"(CASE WHEN list_dot_product(v, ${Hyperplanes.planeSql(j)}) > 0" +
          s" THEN ${1L << k} ELSE 0 END)"
      }.mkString(" + ")
      s"CAST($e AS BIGINT) AS k$b"
    }.mkString(",\n    ")
    val sharesBand =
      (0 until bands).map(b => s"a.k$b = b.k$b").mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    list_reduce(list_prepend(0.0, CAST(embedding AS DOUBLE[])),
       |                (acc, x) -> acc + x * x) AS nrm
       |  FROM embeddings),
       |s AS (SELECT vec_id, v, nrm,
       |    $keyCols FROM e),
       |drops AS (
       |  SELECT DISTINCT b.vec_id AS bid
       |  FROM s a JOIN s b ON a.vec_id < b.vec_id AND ($sharesBand)
       |  WHERE ROUND(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 6)
       |    >= ${Similarity.SemTau})
       |SELECT (SELECT COUNT(*) FROM e) AS n,
       |  (SELECT COUNT(*) FROM drops) AS dropped,
       |  (SELECT COUNT(*) FROM e) - (SELECT COUNT(*) FROM drops) AS kept,
       |  md5(coalesce((SELECT string_agg(CAST(bid AS VARCHAR), ','
       |    ORDER BY bid) FROM drops), '')) AS dropped_digest""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "d_dedup_exact" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(text)) AS n_unique,
        |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dups
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "d_dedup_cluster_assign" ->
      """SELECT doc_id,
        |  MIN(doc_id) OVER (PARTITION BY md5(text)) AS cluster_id,
        |  CAST(doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS INT)
        |    AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d_dedup_simhash" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |wh AS (SELECT doc_id,
        |    CAST('0x' || substr(md5(w), 1, 12) AS BIGINT) AS h FROM words),
        |bits AS (SELECT doc_id, j.j,
        |    SUM(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM wh, (SELECT unnest(range(0, 48)) AS j) j
        |  GROUP BY doc_id, j.j),
        |sig AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN s >= 0
        |        THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
        |        ELSE 0 END) AS BIGINT) AS sig
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Ground truth for the LSH pipeline: exact jaccard over distinct
    // 3-shingles for every pair of documents (LSH recall at j>=0.8 with
    // 8 bands of 2 is > 0.999 — and the sf0.01 pairs all sit at j>=0.9).
    // Pairs are found through an inverted index on shingles: a pair with
    // no shared shingle has jaccard 0, so this returns the rows of the
    // all-pairs list_intersect form (MinhashOracleSpec checks the two
    // agree) without its O(n^2) cross join.
    "d_dedup_minhash_lsh" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d)),
        |n AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |q AS (SELECT doc_a, doc_b, CAST(i AS BIGINT) AS i,
        |    CAST(na.sz + nb.sz - i AS BIGINT) AS u
        |  FROM p JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b)
        |SELECT doc_a, doc_b, (2000000 * i + u) // (2 * u) AS jaccard_u
        |FROM q WHERE (2000000 * i + u) // (2 * u) >= 800000
        |ORDER BY doc_a, doc_b""".stripMargin,

    "d_dedup_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id, source, list_distinct(
        |    [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
        |  FROM d),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.bg, b.bg)) AS BIGINT) AS i,
        |    CAST(len(list_distinct(list_concat(a.bg, b.bg))) AS BIGINT) AS u
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id AND a.source = b.source)
        |SELECT doc_a, doc_b, (2000000 * i + u) // (2 * u) AS jaccard_u
        |FROM p WHERE (2000000 * i + u) // (2 * u) >= 500000
        |ORDER BY doc_a, doc_b""".stripMargin,

    "d_dedup_entity" ->
      """WITH d AS (SELECT doc_id,
        |    array_to_string((string_split(text, ' '))[1:2], ' ') AS blk,
        |    substr(text, 1, 60) AS head
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.head, b.head) AS INT) AS edit_dist
        |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 12
        |ORDER BY doc_a, doc_b""".stripMargin,

    "d_dedup_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_reduce(list_prepend(0.0, CAST(embedding AS DOUBLE[])),
        |                (a, x) -> a + x * x) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 6) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE ROUND(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 6) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,

    // the LSH pipeline replicated predicate-for-predicate: identical plane
    // literals -> identical 48-bit signatures -> identical shares-a-band
    // candidate set -> identical exact-cosine verification
    "d_dedup_embedding_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    list_reduce(list_prepend(0.0, CAST(embedding AS DOUBLE[])),
         |                (acc, x) -> acc + x * x) AS nrm
         |  FROM embeddings),
         |s AS (SELECT vec_id, v, nrm, CAST($embSigSql AS BIGINT) AS sig FROM e)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ROUND(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 6) AS cos
         |FROM s a JOIN s b ON a.vec_id < b.vec_id AND ($embBandSql)
         |WHERE ROUND(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 6) >= 0.45
         |ORDER BY id_a, id_b""".stripMargin,

    // the sign-LSH SemDeDup lanes replicated predicate-for-predicate:
    // identical plane literals -> identical signatures -> identical
    // shares-a-band candidate set (at each geometry) -> identical cosine
    // drop policy at SemTau; the digest proves the exact drop set
    "d_semdedup_lsh" -> semdedupLshOracle(EmbBands, EmbBandBits),
    "d_semdedup_lsh_hr" -> semdedupLshOracle(EmbBandsHR, EmbBandBitsHR),
    "d_semdedup_lsh_wide" ->
      semdedupLshOracleKeys(EmbBandsWide, EmbBandBitsWide)
  )
}
