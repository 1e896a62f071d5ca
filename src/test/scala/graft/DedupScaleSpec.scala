package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Dedup

/** Adversarial hot-bucket behavior of the near-dup family: a giant
  * duplicate cluster (the corpus shape these operators exist for) must
  * produce O(cluster) CANDIDATES, not O(cluster^2) — exact-digest
  * pre-dedup collapses identical payloads before banding, and
  * cappedBucketPairs stars any residual oversized bucket. */
class DedupScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("oversized buckets degrade to a star: O(c) candidates, not O(c^2)") {
    val sp = spark; import sp.implicits._
    // one hot bucket of 5000 distinct members + one healthy bucket of 4
    val hot = (0L until 5000L).map(id => (0, 0L, id))
    val cool = (0L until 4L).map(id => (0, 1L, 10000L + id))
    val buckets = (hot ++ cool).toDF("band", "key", "doc_id")
    val df = Dedup.cappedBucketPairs(buckets, Seq("band", "key"), 100)
    val pairs = df.collect()
    // hot bucket: 4999 star edges around min doc_id 0; cool bucket: all 6
    val (star, all) = pairs.partition(_.getLong(1) < 10000L)
    assert(star.length == 4999)
    assert(star.forall(_.getLong(0) == 0L), "star center must be the bucket min")
    assert(all.length == 6)
    // every hot-bucket member is connected to the cluster (union-find
    // connectivity): the star covers all 5000 ids
    val covered = star.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(covered == (0L until 5000L).toSet)
    // the star observation counts exactly the hot bucket's star pairs
    val star_candidates = df.queryExecution.observedMetrics("star_fallback_band_key")
      .getAs[Long]("star_candidates")
    assert(star_candidates == 4999L)
  }

  test("5000 identical copies: pre-dedup keeps LSH candidates cluster-sized") {
    val sp = spark; import sp.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs =
      (0L until 5000L).map(id => (id, base, "webA")) ++
      Seq((5000L, base + " extra", "webA")) ++ // near-dup, distinct text
      (1L to 10L).map(i => (5000L + i,
        s"unrelated document number $i about topic${i} with words w${i}a w${i}b w${i}c",
        "webB"))
    val df = docs.toDF("doc_id", "text", "source")
    val memRep = Dedup.digestGroups(df, md5(col("text").cast("binary")))
    val reps = Dedup.repsOnly(df, memRep)
    assert(reps.count() == 12) // 5000 copies -> 1 representative
    val nCand = Dedup.minhashCandidates(reps, Dedup.MaxBucket).count()
    // candidates are rep-level: bounded by C(12,2), nowhere near C(5000,2)
    assert(nCand >= 1 && nCand <= 66, s"candidate count $nCand")
  }

  test("matNarrow reliable-checkpoint mode: same results, blocks on disk") {
    val sp = spark; import sp.implicits._
    val df = (0L until 100L).map(i => (i, i % 7)).toDF("doc_id", "k")
    val local = Dedup.matNarrow(df).collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graftckpt").toString
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try {
      val reliable = Dedup.matNarrow(df).collect().toSet
      assert(reliable == local)
      // the blocks must actually live under the configured root (this is
      // what survives executor loss at cluster scale)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      assert(walk(new java.io.File(dir)).nonEmpty,
        "no reliable checkpoint files written")
    } finally spark.conf.unset("spark.graft.checkpoint.dir")
  }

  test("5000-copy corpus still yields the exact brute-force pair set") {
    val sp = spark; import sp.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val dir = java.nio.file.Files.createTempDirectory("dedupadv").toString
    val docs =
      (0L until 5000L).map(id => (id, base, "webA")) ++
      Seq((5000L, base + " extra", "webA")) ++
      (1L to 10L).map(i => (5000L + i,
        s"unrelated document number $i about topic${i} with words w${i}a w${i}b w${i}c",
        "webB"))
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("d_dedup_minhash_lsh")(spark, dir)
    // C(5000,2) identical pairs at jaccard exactly 1e6, plus 5000
    // cross pairs (base x variant) at 10/11 = 909091 micros
    val byJ = out.groupBy("jaccard_u").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byJ(1000000L) == 5000L * 4999L / 2)
    assert(byJ(909091L) == 5000L)
    assert(byJ.size == 2)
  }
}
