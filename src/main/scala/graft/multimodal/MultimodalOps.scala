package graft.multimodal

import graft.{QueryDef, Tables}
import graft.functions.VectorOps
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque BINARY payloads with
  * typed metadata (builder-prompt multimodal ops).
  *
  * The container has no imaging/audio libraries, so the *decode* step is a
  * clearly-marked deterministic stub (`StubDecoder`): it stands in for
  * libjpeg/ffmpeg and computes from the raw bytes only. Everything around
  * it — the binary column schema, the typed-metadata struct, the
  * partition-preserving mapPartitions batch shape (the Scala analogue of a
  * pandas-batch UDF), and the handoff from extracted features into the
  * engine's vector operators — is real and tested (MultimodalSpec).
  *
  * Scale design: decode/feature-extract run per-partition with no shuffle
  * (narrow mapPartitions over the scan); only the tiny feature vectors ever
  * shuffle. Payload bytes never leave the executor that read them — the
  * property that matters when payloads are MBs and the corpus is 100 TB.
  */
object MultimodalOps {

  /** One media row: opaque payload + typed metadata. */
  final case class MediaRow(
      media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int)

  final case class DecodedRow(
      media_id: Long, kind: String, n_bytes: Int, checksum: Long,
      width: Int, height: Int, mean_intensity: Double)

  final case class FeatureRow(media_id: Long, kind: String, features: Seq[Float])

  final case class FrameRow(media_id: Long, frame_idx: Int, frame_mean: Double)

  /** ======== STUB BOUNDARY ========================================== *
    * Deterministic fake decoder. A real deployment swaps this object for
    * bindings to an imaging/audio library (e.g. libjpeg / ffmpeg); the
    * signatures are the contract. Everything it returns is computed only
    * from the payload bytes, so results are reproducible everywhere.
    */
  object StubDecoder {
    /** "Decode" = validate + summarize the byte stream. */
    def decode(m: MediaRow): DecodedRow = {
      var sum = 0L
      var checksum = 1L
      var i = 0
      while (i < m.payload.length) {
        val b = m.payload(i) & 0xff
        sum += b
        checksum = (checksum * 31 + b) % 1000000007L
        i += 1
      }
      val mean = if (m.payload.isEmpty) 0.0 else sum.toDouble / m.payload.length
      DecodedRow(m.media_id, m.kind, m.payload.length, checksum, m.width, m.height, mean)
    }

    /** "Resize" = byte-stride downsample + halved dims (stand-in for a real
      * resampler).
      */
    def resize(m: MediaRow): MediaRow =
      m.copy(
        payload = m.payload.zipWithIndex.collect { case (b, i) if i % 2 == 0 => b },
        width = m.width / 2, height = m.height / 2)

    /** "Feature-extract" = 16 window means over the bytes (stand-in for an
      * embedding model).
      */
    def features(m: MediaRow): FeatureRow = {
      val dim = 16
      val out = new Array[Float](dim)
      val n = m.payload.length
      if (n > 0) {
        val w = math.max(1, n / dim)
        var d = 0
        while (d < dim) {
          var s = 0.0
          var c = 0
          var i = d * w
          while (i < math.min(n, (d + 1) * w)) { s += (m.payload(i) & 0xff); c += 1; i += 1 }
          out(d) = if (c == 0) 0.0f else (s / c / 255.0).toFloat
          d += 1
        }
      }
      FeatureRow(m.media_id, m.kind, out.toSeq)
    }

    /** "Frame-sample" = every k-th fixed-size byte window as one frame. */
    def frames(m: MediaRow, frameSize: Int = 64, everyK: Int = 4): Seq[FrameRow] = {
      val n = m.payload.length / frameSize
      (0 until n).collect {
        case f if f % everyK == 0 =>
          val start = f * frameSize
          var s = 0.0
          var i = start
          while (i < start + frameSize) { s += (m.payload(i) & 0xff); i += 1 }
          FrameRow(m.media_id, f, s / frameSize)
      }
    }

    /** "Audio energy" = RMS of centered samples per non-overlapping
      * 32-byte window (stand-in for PCM frame energy): v = byte − 128,
      * energy = sqrt(Σv² / 32). The sum of squares is an exact int, the
      * /32 is a power of two, and IEEE sqrt is correctly rounded — so
      * the value is bit-reproducible from the bytes in any engine.
      */
    def audioEnergy(m: MediaRow, win: Int = 32): Seq[(Long, Int, Double)] = {
      val n = m.payload.length / win
      (0 until n).map { f =>
        var s = 0L
        var i = f * win
        while (i < (f + 1) * win) {
          val v = (m.payload(i) & 0xff) - 128
          s += v.toLong * v
          i += 1
        }
        (m.media_id, f, math.sqrt(s.toDouble / win))
      }
    }
    /** "ASR front-end segmentation" = OVERLAPPING fixed windows (the
      * framesample twin on the audio side: 160-byte segments at 80-byte
      * stride — 10 ms frames at 50% hop in 16 kHz terms) each emitting
      * the classic VAD/ASR feature pair: RMS energy and zero-crossing
      * count. Samples center on 100 (the fixture's ASCII byte midline —
      * a plain DC-offset removal; 128-centering would leave every ASCII
      * sample negative and the crossing count degenerate). Exact: Σv² is
      * an int, /segBytes has exact operands, IEEE sqrt is correctly
      * rounded; crossings are strict-sign-flip integer compares
      * (zero-valued samples never count, so no run state).
      */
    def audioSegments(m: MediaRow, segBytes: Int = 160, stride: Int = 80): Seq[(Long, Int, Double, Long)] = {
      val n = m.payload.length
      val count = if (n < segBytes) 0 else (n - segBytes) / stride + 1
      (0 until count).map { f =>
        val start = f * stride
        var s = 0L
        var zc = 0L
        var i = start
        while (i < start + segBytes) {
          val v = (m.payload(i) & 0xff) - 100
          s += v.toLong * v
          if (i > start) {
            val p = (m.payload(i - 1) & 0xff) - 100
            if (p.toLong * v < 0) zc += 1
          }
          i += 1
        }
        (m.media_id, f, math.sqrt(s.toDouble / segBytes), zc)
      }
    }
  }
  /* ======== END STUB BOUNDARY ======================================== */

  /** Deterministic media table derived from the documents fixture: payload =
    * UTF-8 bytes of the text (a stand-in for image/audio bytes), metadata
    * synthesized from doc fields. Alternating image/audio kinds.
    */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        val kind = if (id % 2 == 0) "image" else "audio"
        MediaRow(id, kind, text.getBytes("UTF-8"),
          width = (nChars % 64).toInt + 1, height = (nChars % 48).toInt + 1,
          sample_rate = if (kind == "audio") 16000 else 0)
      }
  }

  /** Decode via partition-preserving mapPartitions (batch-shaped, like a
    * pandas-batch UDF: one iterator in, one iterator out, no shuffle).
    */
  def decodeAll(media: Dataset[MediaRow]): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(StubDecoder.decode))
  }

  def resizeAll(media: Dataset[MediaRow]): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(StubDecoder.resize))
  }

  def featuresAll(media: Dataset[MediaRow]): Dataset[FeatureRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(StubDecoder.features))
  }

  def frameSampleAll(media: Dataset[MediaRow]): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(m => StubDecoder.frames(m)))
  }

  // ---- registered queries (rows-only driver check; MultimodalSpec has the
  // behavioral assertions) ---------------------------------------------------

  /** Oracle-checked: every decode output is reproducible in SQL — the
    * polynomial checksum via list_reduce over the byte codes (ASCII fixture
    * ⇒ unicode(char) = byte; BIGINT headroom: acc < 1e9 so 31·acc + 255 <
    * 2^35), the mean as exact-int sum / len, and the metadata passthrough
    * from doc fields. The driver thus verifies the flagship multimodal
    * decode end-to-end, not just row counts.
    */
  val mmDecode = QueryDef(
    "q_mm_decode",
    (s, dir) => decodeAll(mediaTable(s, dir)).toDF()
      .select("media_id", "kind", "n_bytes", "checksum", "width", "height", "mean_intensity")
      .orderBy("media_id"),
    Some("""
      WITH m AS (SELECT doc_id AS media_id, text, n_chars, octet_length(encode(text)) AS len FROM documents),
      b AS (SELECT media_id, n_chars, len,
                   list_transform(range(1, len + 1), i -> CAST(unicode(substring(text, i, 1)) AS BIGINT)) AS codes
            FROM m)
      SELECT media_id,
             CASE WHEN media_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
             CAST(len AS INTEGER) AS n_bytes,
             list_reduce(list_prepend(CAST(1 AS BIGINT), codes),
                         (acc, x) -> (acc * 31 + x) % 1000000007) AS checksum,
             CAST(n_chars % 64 + 1 AS INTEGER) AS width,
             CAST(n_chars % 48 + 1 AS INTEGER) AS height,
             CAST(list_sum(codes) AS DOUBLE) / len AS mean_intensity
      FROM b ORDER BY media_id
    """.trim),
  )

  /** Oracle-checked: the resize stub's outputs are integer arithmetic over
    * the payload byte length (stride-2 keep ⇒ ceil(len/2)) and the halved
    * metadata dims, all reproducible in SQL from the source documents — so
    * the driver verifies the whole mapPartitions decode path end-to-end.
    */
  val mmResize = QueryDef(
    "q_mm_resize",
    (s, dir) => resizeAll(mediaTable(s, dir)).toDF()
      .select(col("media_id"), col("kind"), length(col("payload")).as("n_bytes"),
        col("width"), col("height"))
      .orderBy("media_id"),
    Some("""
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
             CAST((octet_length(encode(text)) + 1) // 2 AS INTEGER) AS n_bytes,
             CAST((n_chars % 64 + 1) // 2 AS INTEGER) AS width,
             CAST((n_chars % 48 + 1) // 2 AS INTEGER) AS height
      FROM documents ORDER BY media_id
    """.trim),
  )

  /** Oracle-checked: frame means are exact (≤64 small ints summed in
    * double, divided by 64 — a power of two), and the fixture text is pure
    * ASCII so DuckDB can recompute each byte window via unicode() per
    * char. A non-ASCII corpus would only lose the oracle, not the
    * operator.
    */
  val mmFrames = QueryDef(
    "q_mm_framesample",
    (s, dir) => frameSampleAll(mediaTable(s, dir)).toDF()
      .orderBy("media_id", "frame_idx"),
    Some("""
      WITH m AS (SELECT doc_id AS media_id, text, octet_length(encode(text)) AS len FROM documents),
      idx AS (SELECT media_id, text, CAST(unnest(range(0, len // 64)) AS INTEGER) AS frame_idx FROM m),
      f AS (SELECT * FROM idx WHERE frame_idx % 4 = 0)
      SELECT media_id, frame_idx,
             list_avg(list_transform(range(1, 65), i -> unicode(substring(text, frame_idx*64 + i, 1)))) AS frame_mean
      FROM f ORDER BY media_id, frame_idx
    """.trim),
  )

  /** Multimodal → vector pipeline: extracted features feed the native
    * cosine top-3 (same machinery as the embedding operators).
    * Oracle-checked end-to-end: the 16 window-mean features are exact
    * double arithmetic over ASCII byte codes (int sums / counts / 255,
    * each correctly rounded, then cast to float — identical bits in SQL),
    * and the cosine is the sequential-fold double mirrored by
    * list_inner_product, ranked on the 6dp-rounded score.
    */
  val mmSimilar = QueryDef(
    "q_mm_similar",
    (s, dir) => {
      val feats = featuresAll(mediaTable(s, dir)).toDF()
      val q = feats.filter(col("media_id") < 5)
        .select(col("media_id").as("q_id"), col("features").as("q_f"))
      val c = feats.select(col("media_id").as("n_id"), col("features").as("n_f"))
      val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
      c.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", round(VectorOps.cosine(col("q_f"), col("n_f")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("q_id", "rn", "n_id", "cos")
        .orderBy("q_id", "rn")
    },
    Some("""
      WITH m AS (SELECT doc_id AS media_id, text, octet_length(encode(text)) AS len FROM documents),
      feats AS (
        SELECT media_id,
               list_transform(range(0, 16), d -> CAST(
                 CASE WHEN least(len, (d + 1) * greatest(len // 16, 1)) > d * greatest(len // 16, 1)
                      THEN list_avg(list_transform(
                             range(d * greatest(len // 16, 1) + 1,
                                   least(len, (d + 1) * greatest(len // 16, 1)) + 1),
                             i -> unicode(substring(text, i, 1)))) / 255.0
                      ELSE 0.0 END AS FLOAT)) AS f
        FROM m),
      e AS (SELECT media_id, list_transform(f, x -> CAST(x AS DOUBLE)) AS emb FROM feats),
      q AS (SELECT media_id AS q_id, emb AS q_emb FROM e WHERE media_id < 5),
      scored AS (
        SELECT q.q_id, c.media_id AS n_id,
               ROUND(list_inner_product(q.q_emb, c.emb)
                     / sqrt(list_inner_product(q.q_emb, q.q_emb) * list_inner_product(c.emb, c.emb)), 6) AS cos
        FROM e c CROSS JOIN q WHERE q.q_id != c.media_id)
      SELECT q_id, rn, n_id, cos FROM (
        SELECT q_id, n_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rn
        FROM scored)
      WHERE rn <= 3
      ORDER BY q_id, rn
    """.trim),
  )

  /** Audio activity summary — the voice-activity-detection primitive over
    * audio-kind payloads: per-media count of "active" 32-byte windows
    * (RMS energy above threshold) plus the peak energy. Same narrow
    * mapPartitions decode shape (bytes never shuffle; only the tiny
    * per-window energies do, and they aggregate per media before the
    * output sort). Oracle-checked: energies are exact int sums / 32
    * under IEEE sqrt, recomputed in SQL from the ASCII byte codes.
    */
  val mmAudioEnergy = QueryDef(
    "q_mm_audio_energy",
    (s, dir) => {
      import s.implicits._
      val windows = mediaTable(s, dir)
        .filter(col("kind") === "audio")
        .mapPartitions(_.flatMap(m => StubDecoder.audioEnergy(m)))
        .toDF("media_id", "win_idx", "energy")
      windows.groupBy("media_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("energy") > 40.0, 1L).otherwise(0L)).as("n_active"),
          round(max("energy"), 6).as("peak_energy"))
        .orderBy("media_id")
    },
    Some("""
      WITH m AS (SELECT doc_id AS media_id, text, octet_length(encode(text)) AS len
                 FROM documents WHERE doc_id % 2 = 1),
      w AS (SELECT media_id, text, CAST(unnest(range(0, len // 32)) AS INTEGER) AS win_idx FROM m),
      e AS (SELECT media_id, win_idx,
                   sqrt(CAST(list_sum(list_transform(range(1, 33),
                        i -> CAST((unicode(substring(text, win_idx*32 + i, 1)) - 128)
                             * (unicode(substring(text, win_idx*32 + i, 1)) - 128) AS BIGINT))) AS DOUBLE)
                        / 32) AS energy
            FROM w)
      SELECT media_id, COUNT(*) AS n_windows,
             CAST(SUM(CASE WHEN energy > 40.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
             ROUND(MAX(energy), 6) AS peak_energy
      FROM e GROUP BY media_id ORDER BY media_id
    """.trim),
  )

  /** Scene-change detection — the video-side segmentation primitive:
    * consecutive full frames (64-byte windows, no sampling) are compared
    * by mean intensity, and a jump above threshold marks a cut. One
    * narrow decode pass emits (media, frame, mean); a per-media window
    * lag computes deltas (single shuffle on media_id — the same
    * sessionize shape); the output is per-media cut count + first cut
    * index. Frame means are exact (≤64 byte codes summed in double over
    * a power-of-two window), deltas/rounding mirrored in SQL.
    */
  val mmScenes = QueryDef(
    "q_mm_scenes",
    (s, dir) => {
      import s.implicits._
      val frames = mediaTable(s, dir)
        .filter(col("kind") === "image")
        .mapPartitions(_.flatMap(m => StubDecoder.frames(m, frameSize = 64, everyK = 1)))
        .toDF("media_id", "frame_idx", "frame_mean")
      val w = Window.partitionBy("media_id").orderBy("frame_idx")
      frames
        .withColumn("prev_mean", lag("frame_mean", 1).over(w))
        .withColumn("is_cut",
          col("prev_mean").isNotNull && abs(col("frame_mean") - col("prev_mean")) > 4.5)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("is_cut"), 1L).otherwise(0L)).as("n_cuts"),
          min(when(col("is_cut"), col("frame_idx"))).as("first_cut"))
        .orderBy("media_id")
    },
    Some("""
      WITH m AS (SELECT doc_id AS media_id, text, octet_length(encode(text)) AS len
                 FROM documents WHERE doc_id % 2 = 0),
      f AS (SELECT media_id, CAST(unnest(range(0, len // 64)) AS INTEGER) AS frame_idx, text FROM m),
      fm AS (SELECT media_id, frame_idx,
                    list_avg(list_transform(range(1, 65),
                      i -> unicode(substring(text, frame_idx*64 + i, 1)))) AS frame_mean
             FROM f),
      d AS (SELECT media_id, frame_idx, frame_mean,
                   lag(frame_mean) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev_mean
            FROM fm),
      c AS (SELECT media_id, frame_idx,
                   (prev_mean IS NOT NULL AND abs(frame_mean - prev_mean) > 4.5) AS is_cut
            FROM d)
      SELECT media_id, COUNT(*) AS n_frames,
             CAST(SUM(CASE WHEN is_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
             MIN(CASE WHEN is_cut THEN frame_idx END) AS first_cut
      FROM c GROUP BY media_id ORDER BY media_id
    """.trim),
  )

  /** Audio segmentation features — the framesample twin on the audio
    * side: overlapping 160-byte windows at 80-byte stride (10 ms / 50%
    * hop in 16 kHz terms), each emitting RMS + zero-crossing count (the
    * ASR/VAD front-end pair). Same narrow mapPartitions shape: payload
    * bytes never shuffle, only the (media, seg, rms, zc) quadruples do.
    * Oracle-checked — both features recomputed in SQL from the ASCII
    * byte codes; overlap means ~2× the windowed row mass of the
    * non-overlapping energy op, which is the realistic front-end cost.
    */
  val mmAudioSegments = QueryDef(
    "q_mm_audio_segments",
    (s, dir) => {
      import s.implicits._
      mediaTable(s, dir)
        .filter(col("kind") === "audio")
        .mapPartitions(_.flatMap(m => StubDecoder.audioSegments(m)))
        .toDF("media_id", "seg_idx", "rms", "zero_crossings")
        .select(col("media_id"), col("seg_idx"), round(col("rms"), 6).as("rms"),
          col("zero_crossings"))
        .orderBy("media_id", "seg_idx")
    },
    Some("""
      WITH m AS (SELECT doc_id AS media_id, text, octet_length(encode(text)) AS len
                 FROM documents WHERE doc_id % 2 = 1),
      seg AS (SELECT media_id, text,
                     CAST(unnest(range(0, CASE WHEN len >= 160 THEN (len - 160) // 80 + 1 ELSE 0 END)) AS INTEGER) AS seg_idx
              FROM m),
      v AS (SELECT media_id, seg_idx,
                   list_transform(range(1, 161),
                     i -> CAST(unicode(substring(text, seg_idx*80 + i, 1)) - 100 AS BIGINT)) AS vs
            FROM seg)
      SELECT media_id, seg_idx,
             ROUND(sqrt(CAST(list_sum(list_transform(vs, x -> x*x)) AS DOUBLE) / 160), 6) AS rms,
             CAST(list_sum(list_transform(range(1, 160),
                  i -> CASE WHEN vs[i] * vs[i+1] < 0 THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings
      FROM v ORDER BY media_id, seg_idx
    """.trim),
  )

  /** Band geometry for a banded hamming join over a `hashBits`-bit hash
    * at corpus size n — the "width must grow ~log n" observation of
    * PERF.md's round-8 search-scale measurement turned into code. Returns the LARGEST band count b
    * (recall rises with b: a radius-r pair survives iff some band is
    * flip-free, and more bands mean more chances) whose expected
    * random-collision candidate volume stays within budget:
    * b·n²/2^w ≤ occupancy·n with w = hashBits/b, i.e.
    * 2^(hashBits/b) ≥ b·n/occupancy. Feasibility is monotone in b (w
    * shrinks, the bound grows), so the answer is the last feasible b —
    * and the binding constraint pins w ≈ log2(n), which is why 7-bit
    * bands birthday-saturated at 10× while 14-bit bands held. If even
    * minBands is infeasible (corpus too large for the hash length)
    * returns (minBands, hashBits/minBands) — the least-bad layout; the
    * right fix at that point is a longer hash, not narrower bands.
    */
  def hammingBands(n: Long, hashBits: Int = 56, occupancy: Double = 4.0,
      minBands: Int = 2): (Int, Int) = {
    require(n > 0 && hashBits >= minBands && occupancy > 0 && minBands >= 1,
      s"hammingBands($n, $hashBits, $occupancy, $minBands)")
    def feasible(b: Int): Boolean =
      (hashBits / b).toDouble >= math.log(b.toDouble * n / occupancy) / math.log(2.0)
    if (!feasible(minBands)) (minBands, hashBits / minBands)
    else {
      var b = minBands
      while (b + 1 <= hashBits && feasible(b + 1)) b += 1
      (b, hashBits / b)
    }
  }

  /** Perceptual-hash image dedup (dHash + banded hamming join): each
    * image's pixels sample onto an 8×8 grid and the 56 horizontal
    * gradient signs pack into a hash — dHash's defining property is
    * INVARIANCE under global brightness shift (gradients ignore the DC
    * level), which is what survives re-encoding. The corpus is the
    * original images plus a derived re-encoded twin per image (+10
    * brightness, +1 noise on every 5th byte — the noise flips only
    * near-tie gradients, measured hamming ≤ 4), and the join must
    * recover the original↔twin pairs: banded candidates (4 bands ×
    * 14 bits) verified by exact bit_count(xor) ≤ 6. Band width is the
    * occupancy knob: 7-bit bands saturate (PERF.md round 8 measured k²
    * candidate growth at ×10 — 128 bucket values birthday-collapse)
    * while 14-bit buckets stay selective; at larger corpora the width
    * grows with log n (longer hash / more grids), the SemDeDup
    * planes-∝-log N argument. The recall price is real and measured: a
    * twin whose ≤ 4 noise flips land one per band is missed —
    * 250/250, 248/250, 2493/2500 twins recovered at the three fixture
    * scales (≥ 99.2%).
    *
    * Scale shape: this is MinHash-banding for hamming space — candidates
    * come from an equi-join on (band, value), never all pairs, and the
    * exact verify touches candidates only; the same plan as
    * q_dedup_near with the signature swapped for a gradient hash. All
    * integer arithmetic, so the WHOLE op — hash, bands, verify — is
    * DuckDB-reproducible (pixels are byte codes of the ASCII fixture,
    * the q_mm_decode discipline).
    */
  /** q_mm_phash's corpus-tier sizing point: the band layout is DERIVED
    * from [[hammingBands]] at this n (the largest fixture tier with
    * headroom — sf0.1 yields 5000 hashed media), not hand-pinned — the
    * r8 verdict's "knob into code" item. Both the Spark plan and the
    * oracle SQL below are BUILT from the derived (PhashBands,
    * PhashBandBits), so resizing the deployment tier moves both engines
    * together; MultimodalSpec pins the derivation and its ×1/×10
    * occupancy behavior.
    */
  private[graft] val PhashCorpusN = 5000L
  private[graft] val (phashBands, phashBandBits) = hammingBands(PhashCorpusN, hashBits = 56)
  private val phashMask = (1L << phashBandBits) - 1

  val mmPhash = QueryDef(
    "q_mm_phash",
    (s, dir) => {
      // hash stage: the native fused dHash (r17 — the r16 native-folds
      // pattern ported to this row's interpreted transform/aggregate
      // chain, which allocated a text-length codes array, a 64-slot pix
      // array, and 56 boxed fold steps per row; DHash56 reads the 64
      // sampled code points straight off the string). MmDHashSpec pins
      // native ≡ the kept HOF reference (HofReferences.phashHofHashes,
      // src/test) bit-for-bit on the fixture corpus, both variants.
      val base = Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("media_id"), col("text"))
      val dhash = (twin: Boolean) => call_function(
        graft.functions.GraftFunctions.DHash56Name, col("text"), lit(twin))
      val h = base.select(col("media_id"), dhash(false).as("hash"))
        .unionAll(base.select((col("media_id") + 1000000000L).as("media_id"),
          dhash(true).as("hash")))
        .localCheckpoint()
      val bands = h.select(col("media_id"), col("hash"),
          explode(sequence(lit(0), lit(phashBands - 1))).as("j"))
        .withColumn("bv", expr(s"shiftright(hash, cast($phashBandBits * j as int)) & $phashMask"))
      val cand = bands.select(col("j"), col("bv"), col("media_id").as("id1"))
        .join(bands.select(col("j").as("j2"), col("bv").as("bv2"), col("media_id").as("id2")),
          col("j") === col("j2") && col("bv") === col("bv2") && col("id1") < col("id2"))
        .select("id1", "id2").distinct()
      cand.join(h.select(col("media_id").as("id1"), col("hash").as("h1")), "id1")
        .join(h.select(col("media_id").as("id2"), col("hash").as("h2")), "id2")
        .withColumn("hamming", expr("bit_count(h1 ^ h2)"))
        .filter(col("hamming") <= 6)
        .select(col("id1").as("media_id1"), col("id2").as("media_id2"), col("hamming"))
        .orderBy("media_id1", "media_id2")
    },
    Some(s"""
      WITH m AS (SELECT doc_id AS media_id, text, octet_length(encode(text)) AS len
                 FROM documents WHERE doc_id % 2 = 0),
      b AS (SELECT media_id, len,
              list_transform(range(1, len + 1), i -> CAST(unicode(substring(text, i, 1)) AS BIGINT)) AS codes
            FROM m),
      u AS (
        SELECT media_id, len, codes FROM b
        UNION ALL
        SELECT media_id + 1000000000, len,
               list_transform(range(len), i -> codes[i+1] + 10 + CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END)
        FROM b),
      p AS (SELECT media_id, list_transform(range(64), k -> codes[(k*len)//64 + 1]) AS pix FROM u),
      h AS (SELECT media_id, list_sum(list_transform(range(56),
              bb -> CASE WHEN pix[(bb//7)*8 + (bb%7) + 2] > pix[(bb//7)*8 + (bb%7) + 1]
                    THEN (CAST(1 AS BIGINT) << CAST(bb AS INT)) ELSE CAST(0 AS BIGINT) END)) AS hash
            FROM p),
      bands AS (SELECT media_id, j, (hash >> CAST($phashBandBits*j AS INT)) & $phashMask AS bv
                FROM h, (SELECT unnest(range($phashBands)) AS j)),
      cand AS (SELECT DISTINCT b1.media_id AS id1, b2.media_id AS id2
               FROM bands b1 JOIN bands b2
                 ON b1.j = b2.j AND b1.bv = b2.bv AND b1.media_id < b2.media_id)
      SELECT id1 AS media_id1, id2 AS media_id2,
             bit_count(xor(h1.hash, h2.hash)) AS hamming
      FROM cand JOIN h h1 ON h1.media_id = id1 JOIN h h2 ON h2.media_id = id2
      WHERE bit_count(xor(h1.hash, h2.hash)) <= 6
      ORDER BY media_id1, media_id2
    """.trim),
  )

  // mmDecode / mmResize / mmFrames GRADUATED in r10: the registered
  // q_mm_decode / q_mm_resize / q_mm_framesample now live in
  // ParsedMediaOps, computing from the REAL parsed container bodies at
  // header-parsed geometry (r9 verdict item 2). The text-byte stub
  // versions here remain the code-level baselines MultimodalSpec pins
  // (schema/batch-shape contracts of the StubDecoder boundary).
  def defs: Seq[QueryDef] = Seq(mmSimilar, mmAudioEnergy,
    mmScenes, mmAudioSegments, mmPhash)
}
