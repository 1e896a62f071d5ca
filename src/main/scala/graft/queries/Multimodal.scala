package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * payloads with typed metadata, plus decode / feature-extract / resize /
  * frame-sample stages. Additive over the reference (its closest analogue
  * is `bytea`, `/root/reference/src/backend/utils/adt/varlena.c`).
  *
  * No media libraries ship in this environment, so the DECODE step is a
  * deterministic stand-in (byte-level statistics standing in for pixel
  * decoding — clearly marked below); everything around it — the binary
  * column plumbing, metadata struct schema, per-partition batch shape,
  * partition-parallel feature extraction — is the real production path: at
  * 100 TB the payloads stay columnar in Parquet, the kernels run
  * per-partition, and only fixed-size features ever shuffle.
  *
  * The payloads are derived deterministically from the documents table
  * (UTF-8 bytes), so the DuckDB oracle can reproduce byte-exact results
  * with blob functions.
  */
object Multimodal extends QueryModule {

  /** (doc_id, payload binary, meta struct) — the multimodal table shape. */
  private def assets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        (pmod(col("doc_id"), lit(4)) * 160 + 320).cast("int").as("width"),
        (pmod(col("doc_id"), lit(3)) * 120 + 240).cast("int").as("height"),
        element_at(array(lit("png"), lit("jpeg"), lit("webp")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("format"))
        .as("meta"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Metadata projection + payload sizing: the "catalog scan" over a
    // multimodal table. Binary length is a pushdown-friendly scalar.
    "m_asset_catalog" -> ((s, dir) => {
      assets(s, dir).select(
          col("doc_id"),
          length(col("payload")).as("n_bytes"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("meta.format").as("format"),
          (col("meta.width") * col("meta.height")).as("n_pixels"))
        .orderBy(col("doc_id"))
    }),

    // DECODE (STUB) + feature extraction, batched per partition: a real
    // decoder would map payload -> pixel tensor here; the deterministic
    // stand-in computes byte statistics with the same partition-parallel
    // batch shape (Iterator[Row] -> Iterator[feature Row], zero driver
    // involvement).
    "m_decode_features" -> ((s, dir) => {
      val sp = s; import sp.implicits._
      assets(s, dir)
        .select(col("doc_id"), col("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { batch =>
          batch.map { case (id, bytes) =>
            // --- DECODE STUB: stands in for image/audio decoding ------
            var sum = 0L
            var mx = 0
            var i = 0
            while (i < bytes.length) {
              val b = bytes(i) & 0xff
              sum += b
              if (b > mx) mx = b
              i += 1
            }
            val mean = if (bytes.length == 0) 0.0
                       else sum.toDouble / bytes.length
            // ----------------------------------------------------------
            (id, bytes.length, sum, mx,
             java.math.BigDecimal.valueOf(mean)
               .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
          }
        }
        .toDF("doc_id", "n_bytes", "byte_sum", "byte_max", "byte_mean")
        .orderBy(col("doc_id"))
    }),

    // RESIZE analogue: crop payload to a fixed-size prefix (what a
    // thumbnailer does to pixel buffers), keeping output schema typed.
    "m_resize_crop" -> ((s, dir) => {
      assets(s, dir).select(
          col("doc_id"),
          length(col("payload")).as("orig_bytes"),
          length(expr("substring(payload, 1, 64)")).as("crop_bytes"),
          decode(expr("substring(payload, 1, 16)"), "UTF-8").as("head_utf8"))
        .orderBy(col("doc_id"))
    }),

    // FRAME-SAMPLE analogue: stride-sample every k-th unit of the payload
    // (video frame sampling over an opaque byte stream).
    "m_frame_sample" -> ((s, dir) => {
      val sp = s; import sp.implicits._
      assets(s, dir)
        .select(col("doc_id"), col("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { batch =>
          val stride = 16
          batch.map { case (id, bytes) =>
            val n = (bytes.length + stride - 1) / stride
            var s = 0L
            var i = 0
            while (i * stride < bytes.length) {
              s += bytes(i * stride) & 0xff
              i += 1
            }
            (id, n, s)
          }
        }
        .toDF("doc_id", "n_frames", "sampled_sum")
        .orderBy(col("doc_id"))
    }),

    // AUDIO energy / silence detection — the VAD-and-trim stage of an
    // audio pipeline (frame the waveform, energy per frame, flag
    // silence, find the peak, count the leading silent frames a trimmer
    // would drop). DECODE STUB: 8-bit PCM samples are the payload bytes
    // re-centered at zero — a real decoder would inflate the codec here;
    // everything downstream (framing, per-frame energy, silence
    // threshold, argmax, trim count) is the real integer kernel shape.
    // Complete 64-sample frames only (a trailing partial frame carries
    // no VAD decision). Pure map-side; all integers, exact oracle.
    "m_audio_energy" -> ((s, dir) => {
      val sp = s; import sp.implicits._
      // Silence injection: ASCII text alone never dips under the
      // threshold (min frame energy ~103k on this corpus — the silence
      // features would be vacuously green). DEL bytes (sample -1,
      // square 1) are woven in per doc_id: (doc_id%3+1) LEADING frames
      // for 4 of 5 docs, none for the fifth, plus a 128-byte TRAILING
      // run on even docs that guarantees >=1 aligned silent frame after
      // sound — so lead_trim, n_silent > lead_trim, and the
      // leading-run reset are all exercised and any threshold/tie
      // mismatch with the oracle is a red row, not a coincidence.
      val del = "\u007f" // DEL: sample -1 after recentering
      val wave = concat(
        expr(s"repeat('$del', CASE WHEN doc_id % 5 = 4 THEN 0 " +
          s"ELSE CAST((doc_id % 3 + 1) * 64 AS INT) END)"),
        col("text"),
        expr(s"repeat('$del', CASE WHEN doc_id % 2 = 0 THEN 128 ELSE 0 END)"))
      t(s, dir, "documents")
        .select(col("doc_id"), encode(wave, "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { batch =>
          val frameLen = 64
          val silentBelow = 6400L // avg square < 100 ~ |sample| < 10
          batch.map { case (id, bytes) =>
            val nFrames = bytes.length / frameLen
            var peakF = -1; var peakE = -1L
            var nSilent = 0; var leadTrim = 0; var leading = true
            var f = 0
            while (f < nFrames) {
              var e = 0L; var i = 0
              while (i < frameLen) {
                val sm = (bytes(f * frameLen + i) & 0xff) - 128
                e += sm.toLong * sm; i += 1
              }
              if (e > peakE) { peakE = e; peakF = f }
              if (e < silentBelow) {
                nSilent += 1
                if (leading) leadTrim += 1
              } else leading = false
              f += 1
            }
            (id, nFrames, nSilent, peakF, math.max(peakE, 0L), leadTrim)
          }
        }
        .toDF("doc_id", "n_frames", "n_silent", "peak_frame",
              "peak_energy", "lead_trim")
        .orderBy(col("doc_id"))
    }),

    // VIDEO scene-change detection — the shot-boundary stage of a video
    // pipeline: consecutive 32-byte frames of the payload compared by
    // summed absolute byte difference; a jump above the threshold is a
    // cut. (A real implementation diffs decoded frame histograms; the
    // byte-delta stand-in has the same kernel shape.) All integers —
    // exact oracle; threshold 900 sits mid-distribution on this corpus
    // so both classes occur. Map-side only.
    "m_scene_detect" -> ((s, dir) => {
      val sp = s; import sp.implicits._
      assets(s, dir)
        .select(col("doc_id"), col("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { batch =>
          val w = 32
          val cut = 900L
          batch.map { case (id, bytes) =>
            val nFrames = bytes.length / w
            var nScenes = 0; var maxDiff = 0L; var firstCut = -1
            var f = 1
            while (f < nFrames) {
              var d = 0L; var i = 0
              while (i < w) {
                d += math.abs((bytes(f * w + i) & 0xff) -
                              (bytes((f - 1) * w + i) & 0xff))
                i += 1
              }
              if (d > maxDiff) maxDiff = d
              if (d > cut) {
                nScenes += 1
                if (firstCut < 0) firstCut = f
              }
              f += 1
            }
            (id, nFrames, nScenes, firstCut, maxDiff)
          }
        }
        .toDF("doc_id", "n_frames", "n_cuts", "first_cut", "max_diff")
        .orderBy(col("doc_id"))
    }),

    // Format-level rollup: group multimodal assets by codec + size band.
    // Perceptual-hash near-dup detection over the BINARY payload — the
    // image-dedup pipeline stage (a real pHash would DCT the decoded
    // pixels; the deterministic stand-in fingerprints byte 3-gram
    // structure, which discriminates like a content hash). 63-bit
    // signature: bin j = polynomial-3-gram % 63, bit set when the bin
    // exceeds the uniform mean. 4x16-bit LSH bands guarantee FULL recall
    // at Hamming <= 3 (pigeonhole), so below the bucket cap the banded
    // output equals the brute-force oracle exactly — candidates come from
    // one shuffle on (band, key) and a sorted in-bucket scan, never a
    // cross product. Byte-identical payloads collapse to one
    // representative before banding (Dedup.digestGroups) and expand back
    // at the end (identical payload => identical signature => Hamming 0);
    // buckets above the cap degrade to a star (Dedup.cappedBucketPairs).
    "m_phash_dedup" -> ((s, dir) => {
      val sp = s; import sp.implicits._
      val allAssets = assets(s, dir)
      // narrow fan-out points materialized once (see Dedup's minhash note)
      val memRep = Dedup.matNarrow(
        Dedup.digestGroups(allAssets, md5(col("payload"))))
      val sig = Dedup.matNarrow(Dedup.repsOnly(allAssets, memRep)
        .select(col("doc_id"), col("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            val hist = new Array[Int](63)
            var i = 0
            while (i + 3 < bytes.length) { // grams at 0..len-4 (ng = len-3)
              val g = (((bytes(i) & 0xff) * 31 + (bytes(i + 1) & 0xff)) * 31 +
                (bytes(i + 2) & 0xff)) % 63
              hist(g) += 1
              i += 1
            }
            val thr = (bytes.length - 3) / 63.0
            var sigv = 0L
            var j = 0
            while (j < 63) { if (hist(j) > thr) sigv |= (1L << j); j += 1 }
            (id, sigv)
          }
        }.toDF("doc_id", "sig"))
      val repPairs = Dedup.hammingPairs(sig,
        "transform(sequence(0, 3), b -> struct(b AS band, shiftright(sig, b*16) & 65535 AS key))")
      Dedup.expandPairs(memRep, memRep, repPairs, "hamming", lit(0).cast("int"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "m_format_stats" -> ((s, dir) => {
      assets(s, dir)
        .groupBy(col("meta.format").as("format"))
        .agg(count(lit(1)).as("n"),
             sum(length(col("payload"))).as("total_bytes"),
             max(col("meta.width")).as("max_width"),
             min(col("meta.height")).as("min_height"))
        .orderBy(col("format"))
    })
  )

  val oracle: Map[String, String] = Map(
    // brute-force ground truth: banding at Hamming <= 3 has provably full
    // recall (4 bands, <= 3 differing bits -> one band untouched), so the
    // all-pairs check IS the LSH output.
    "m_phash_dedup" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS tot FROM documents),
        |grams AS (SELECT doc_id, tot - 3 AS ng,
        |    unnest(range(1, tot - 2)) AS i, text FROM d),
        |bins AS (SELECT doc_id, any_value(ng) AS ng,
        |    ((ord(text[i]) * 31 + ord(text[i+1])) * 31 + ord(text[i+2])) % 63 AS j,
        |    COUNT(*) AS n
        |  FROM grams
        |  GROUP BY doc_id,
        |    ((ord(text[i]) * 31 + ord(text[i+1])) * 31 + ord(text[i+2])) % 63),
        |sig AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN n > ng / 63.0
        |      THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS sig
        |  FROM bins GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "m_asset_catalog" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS n_bytes,
        |  CAST((doc_id % 4) * 160 + 320 AS INT) AS width,
        |  CAST((doc_id % 3) * 120 + 240 AS INT) AS height,
        |  ['png', 'jpeg', 'webp'][CAST(doc_id % 3 AS INT) + 1] AS format,
        |  CAST(((doc_id % 4) * 160 + 320) * ((doc_id % 3) * 120 + 240) AS INT) AS n_pixels
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the documents text is ASCII, so byte value == codepoint of the char
    "m_decode_features" ->
      """WITH stats AS (
        |  SELECT doc_id, CAST(length(text) AS INT) AS n_bytes,
        |    CAST(list_sum(list_transform(range(1, length(text) + 1),
        |      i -> ord(substr(text, CAST(i AS INT), 1)))) AS BIGINT) AS byte_sum,
        |    CAST(list_max(list_transform(range(1, length(text) + 1),
        |      i -> ord(substr(text, CAST(i AS INT), 1)))) AS INT) AS byte_max
        |  FROM documents)
        |SELECT doc_id, n_bytes, byte_sum, byte_max,
        |  ROUND(CAST(byte_sum AS DOUBLE) / n_bytes, 6) AS byte_mean
        |FROM stats ORDER BY doc_id""".stripMargin,

    "m_frame_sample" ->
      """SELECT doc_id,
        |  CAST((length(text) + 15) // 16 AS INT) AS n_frames,
        |  CAST(list_sum(list_transform(range(0, (length(text) + 15) // 16),
        |    i -> ord(substr(text, CAST(i * 16 + 1 AS INT), 1)))) AS BIGINT) AS sampled_sum
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m_resize_crop" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS orig_bytes,
        |  CAST(least(length(text), 64) AS INT) AS crop_bytes,
        |  substring(text, 1, 16) AS head_utf8
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m_scene_detect" ->
      """WITH a AS (SELECT doc_id, text, length(text) // 32 AS nf
        |  FROM documents),
        |fr AS (SELECT doc_id, text, CAST(unnest(range(1, nf)) AS BIGINT) AS f
        |  FROM a),
        |d AS (SELECT doc_id, f,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [CAST(abs(ord(substr(text, CAST(f * 32 + i AS INT), 1)) -
        |                ord(substr(text, CAST((f - 1) * 32 + i AS INT), 1)))
        |            AS BIGINT)
        |       for i in range(1, 33)]), (a, x) -> a + x) AS diff
        |  FROM fr),
        |g AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN diff > 900 THEN 1 ELSE 0 END) AS INT)
        |      AS n_cuts,
        |    CAST(coalesce(MIN(CASE WHEN diff > 900 THEN f END), -1) AS INT)
        |      AS first_cut,
        |    MAX(diff) AS max_diff
        |  FROM d GROUP BY doc_id)
        |SELECT a.doc_id, CAST(a.nf AS INT) AS n_frames,
        |  coalesce(g.n_cuts, 0) AS n_cuts,
        |  coalesce(g.first_cut, -1) AS first_cut,
        |  coalesce(g.max_diff, 0) AS max_diff
        |FROM a LEFT JOIN g ON a.doc_id = g.doc_id
        |ORDER BY a.doc_id""".stripMargin,

    // the same framing/energy arithmetic relationally: frames exploded,
    // per-frame energy as an integer fold, peak = max energy with the
    // lowest frame index on ties, lead_trim = first non-silent frame
    "m_audio_energy" ->
      """WITH a AS (SELECT doc_id,
        |    repeat(chr(127), CASE WHEN doc_id % 5 = 4 THEN 0
        |      ELSE CAST((doc_id % 3 + 1) * 64 AS INT) END)
        |    || text ||
        |    repeat(chr(127), CASE WHEN doc_id % 2 = 0 THEN 128 ELSE 0 END)
        |      AS text
        |  FROM documents),
        |a2 AS (SELECT doc_id, text, length(text) // 64 AS nf FROM a),
        |fr AS (SELECT doc_id, text, CAST(unnest(range(0, nf)) AS BIGINT) AS f
        |  FROM a2),
        |e AS (SELECT doc_id, f,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [CAST(ord(substr(text, CAST(f * 64 + i AS INT), 1)) - 128
        |            AS BIGINT)
        |       * (ord(substr(text, CAST(f * 64 + i AS INT), 1)) - 128)
        |       for i in range(1, 65)]),
        |      (a, x) -> a + x) AS energy
        |  FROM fr),
        |g AS (SELECT doc_id,
        |    CAST(COUNT(*) AS INT) AS n_frames,
        |    CAST(SUM(CASE WHEN energy < 6400 THEN 1 ELSE 0 END) AS INT)
        |      AS n_silent,
        |    MAX(energy) AS peak_energy,
        |    CAST(coalesce(MIN(CASE WHEN energy >= 6400 THEN f END),
        |                  COUNT(*)) AS INT) AS lead_trim
        |  FROM e GROUP BY doc_id),
        |pk AS (SELECT e.doc_id, CAST(MIN(e.f) AS INT) AS peak_frame
        |  FROM e JOIN g ON e.doc_id = g.doc_id AND e.energy = g.peak_energy
        |  GROUP BY e.doc_id)
        |SELECT a.doc_id,
        |  coalesce(g.n_frames, 0) AS n_frames,
        |  coalesce(g.n_silent, 0) AS n_silent,
        |  coalesce(pk.peak_frame, -1) AS peak_frame,
        |  coalesce(g.peak_energy, 0) AS peak_energy,
        |  coalesce(g.lead_trim, 0) AS lead_trim
        |FROM a LEFT JOIN g ON a.doc_id = g.doc_id
        |LEFT JOIN pk ON a.doc_id = pk.doc_id
        |ORDER BY a.doc_id""".stripMargin,

    "m_format_stats" ->
      """SELECT ['png', 'jpeg', 'webp'][CAST(doc_id % 3 AS INT) + 1] AS format,
        |  COUNT(*) AS n,
        |  CAST(SUM(length(text)) AS BIGINT) AS total_bytes,
        |  CAST(MAX((doc_id % 4) * 160 + 320) AS INT) AS max_width,
        |  CAST(MIN((doc_id % 3) * 120 + 240) AS INT) AS min_height
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
