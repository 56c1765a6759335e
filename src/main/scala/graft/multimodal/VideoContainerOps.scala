package graft.multimodal

import graft.{QueryDef, Tables}
import org.apache.spark.sql.Dataset

/** ISO-BMFF (MP4) container parsing + encoding — the VIDEO third of the
  * multimodal container boundary, alongside [[ContainerOps]]'s PNG/JPEG
  * images and RIFF/WAVE audio.
  *
  * The fixture payloads are genuine ISO base-media files (ISO/IEC
  * 14496-12): an `ftyp` brand box, a `moov` movie box holding a version-0
  * `mvhd` (timescale + duration, §8.2.2) and one `trak`/`tkhd`
  * (track dimensions as 16.16 fixed point, §8.3.2), and an `mdat` whose
  * payload is the document bytes standing in for the coded stream.
  * `VideoParser` reads timescale / duration / width / height back FROM
  * the bytes by walking the size+type box grammar the way a real
  * demuxer's probe does; `mp4Bytes` is the encoder the parse inverts
  * byte-exactly (round-trip spec'd in ContainerSpec).
  *
  * The same quarantine + loop-safety contract as ContainerOps: malformed
  * rows (bad magic, truncated, a box claiming more bytes than exist, a
  * size too small to be a box) surface as typed `error` values — never
  * exceptions, never a stuck walk (box advances are validated in Long
  * before moving).
  *
  * Scale design: identical to the image/audio path — a narrow
  * per-partition map over the scan; payload bytes never shuffle.
  *
  * Deliberate deviations, documented: creation/modification times are
  * written as 0 (the oracle has no clock), the track is marked enabled
  * with the unity matrix, and the mdat payload is document text, not a
  * coded bitstream — the container *structure* is what is real.
  */
object VideoContainerOps {

  /** Parsed MP4 metadata; `error` non-null iff parsing failed. */
  final case class VideoRow(
      media_id: Long,
      format: Option[String],
      n_bytes: Int,
      checksum: Long,
      width: Option[Int],
      height: Option[Int],
      timescale: Option[Int],
      duration: Option[Int],
      error: Option[String])

  // ---------------------------------------------------------------- builder

  private def be32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def be16(v: Int): Array[Byte] = Array((v >>> 8).toByte, v.toByte)
  private def tpe(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** Unity display matrix (§8.2.2.3): 16.16 fixed 1.0 diagonals, 2.30
    * fixed 1.0 in the w position.
    */
  private val UnityMatrix: Array[Byte] =
    be32(0x00010000) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000)

  /** Minimal-but-real ISO-BMFF file: ftyp(24) + moov(216: mvhd(108) +
    * trak(100: tkhd(92))) + mdat(8+body). Width/height are stored 16.16
    * fixed in tkhd; timescale/duration in mvhd (version 0, 32-bit).
    */
  def mp4Bytes(w: Int, h: Int, timescale: Int, duration: Int,
      body: Array[Byte]): Array[Byte] = {
    val ftyp = be32(24) ++ tpe("ftyp") ++ tpe("isom") ++ be32(512) ++
      tpe("isom") ++ tpe("mp41")
    val mvhd = be32(108) ++ tpe("mvhd") ++
      be32(0) ++ // version 0 + flags
      be32(0) ++ be32(0) ++ // creation/modification (deliberately zero)
      be32(timescale) ++ be32(duration) ++
      be32(0x00010000) ++ // rate 1.0
      be16(0x0100) ++ be16(0) ++ be32(0) ++ be32(0) ++ // volume + reserved(10)
      UnityMatrix ++
      Array.fill[Byte](24)(0) ++ // pre_defined
      be32(2) // next_track_ID
    val tkhd = be32(92) ++ tpe("tkhd") ++
      Array[Byte](0, 0, 0, 7) ++ // version 0, flags: enabled|in-movie|in-preview
      be32(0) ++ be32(0) ++ be32(1) ++ be32(0) ++ be32(duration) ++
      Array.fill[Byte](8)(0) ++ // reserved
      be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++ // layer/alt_group/volume/reserved
      UnityMatrix ++
      be32(w << 16) ++ be32(h << 16) // 16.16 fixed
    val trak = be32(100) ++ tpe("trak") ++ tkhd
    val moov = be32(216) ++ tpe("moov") ++ mvhd ++ trak
    val mdat = be32(8 + body.length) ++ tpe("mdat") ++ body
    ftyp ++ moov ++ mdat
  }

  /** Per-doc payload: header fields derived from doc columns so the
    * DuckDB oracle reconstructs the byte sequence with integer
    * arithmetic; same injection schedule as [[ContainerOps.buildPayload]]
    * (%97 → flipped magic byte, %89 → truncated to 10 bytes).
    */
  def buildVideoPayload(docId: Long, text: String, nChars: Long): Array[Byte] = {
    val body = text.getBytes("UTF-8")
    val w = (nChars % 512 + 16).toInt
    val h = (nChars % 384 + 16).toInt
    val ts = (600 * (1 + docId % 5)).toInt
    val dur = ((nChars * 25) % 1000000L).toInt
    val full = mp4Bytes(w, h, ts, dur, body)
    if (docId % 97 == 0) { full(4) = (full(4) ^ 0xff).toByte; full } // breaks 'ftyp'
    else if (docId % 89 == 0) full.take(10)
    else full
  }

  // ----------------------------------------------------------------- parser

  object VideoParser {
    private def asciiAt(p: Array[Byte], off: Int, len: Int): String =
      new String(p, off, len, "US-ASCII")
    private def rBe32(p: Array[Byte], i: Int): Int =
      ((p(i) & 0xff) << 24) | ((p(i + 1) & 0xff) << 16) | ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)

    /** Box walk from offset 0. The first box must be `ftyp` (the brand
      * sniff every demuxer starts with — a file not leading with ftyp is
      * not this format: bad_magic). Then top-level boxes are walked for
      * `moov`; inside moov, `mvhd` yields timescale/duration and
      * `trak`→`tkhd` yields the 16.16 track dimensions.
      *
      * Loop-safety: a 32-bit box size < 8 (too small to hold its own
      * header, including the size-0 "to end of file" and size-1 64-bit
      * forms this minimal profile doesn't emit) is the typed `bad_box`
      * error; a box claiming more bytes than the payload has is
      * `truncated`; advances are computed in Long.
      */
    def parse(mediaId: Long, p: Array[Byte]): VideoRow = {
      val base = VideoRow(mediaId, None, p.length,
        ContainerOps.ContainerParser.checksum(p), None, None, None, None, None)
      if (p.length < 8) return base.copy(error = Some("bad_magic"))
      if (asciiAt(p, 4, 4) != "ftyp") return base.copy(error = Some("bad_magic"))
      val mp4 = base.copy(format = Some("mp4"))
      var i = 0L
      var moov: Option[(Long, Long)] = None // (payload start, payload end)
      while (i + 8 <= p.length) {
        val size = rBe32(p, i.toInt)
        if (size < 8) return mp4.copy(error = Some("bad_box"))
        val end = i + size
        if (end > p.length) return mp4.copy(error = Some("truncated"))
        if (asciiAt(p, i.toInt + 4, 4) == "moov") moov = Some((i + 8, end))
        i = end
      }
      if (i != p.length) return mp4.copy(error = Some("truncated"))
      moov match {
        case None => mp4.copy(error = Some("no_moov"))
        case Some((s, e)) => parseMoov(mp4, p, s.toInt, e.toInt)
      }
    }

    private def parseMoov(mp4: VideoRow, p: Array[Byte], start: Int, end: Int): VideoRow = {
      var i = start.toLong
      var ts, dur, w, h: Option[Int] = None
      while (i + 8 <= end) {
        val size = rBe32(p, i.toInt)
        if (size < 8) return mp4.copy(error = Some("bad_box"))
        if (i + size > end) return mp4.copy(error = Some("truncated"))
        asciiAt(p, i.toInt + 4, 4) match {
          case "mvhd" =>
            if (size < 108 || (p(i.toInt + 8) & 0xff) != 0)
              return mp4.copy(error = Some("bad_mvhd")) // only version 0 in this profile
            ts = Some(rBe32(p, i.toInt + 20))
            dur = Some(rBe32(p, i.toInt + 24))
          case "trak" =>
            // direct child scan for tkhd
            var j = i + 8
            while (j + 8 <= i + size && w.isEmpty) {
              val csize = rBe32(p, j.toInt)
              if (csize < 8) return mp4.copy(error = Some("bad_box"))
              if (j + csize > i + size) return mp4.copy(error = Some("truncated"))
              if (asciiAt(p, j.toInt + 4, 4) == "tkhd") {
                if (csize < 92) return mp4.copy(error = Some("bad_tkhd"))
                w = Some(rBe32(p, j.toInt + 84) >>> 16) // 16.16 fixed → integer part
                h = Some(rBe32(p, j.toInt + 88) >>> 16)
              }
              j += csize
            }
          case _ => ()
        }
        i += size
      }
      if (ts.isEmpty) mp4.copy(error = Some("no_mvhd"))
      else mp4.copy(width = w, height = h, timescale = ts, duration = dur)
    }
  }

  // ---------------------------------------------------------------- encoder

  /** Write half: parsed row + body → bytes, inverting the parse exactly
    * for every builder payload (same contract as
    * [[ContainerOps.ContainerEncoder]]); typed Left on unencodable rows.
    */
  def encodeVideo(row: VideoRow, body: Array[Byte]): Either[String, Array[Byte]] =
    if (row.error.isDefined) Left("unparsed_row")
    else (row.width, row.height, row.timescale, row.duration) match {
      case (Some(w), Some(h), Some(ts), Some(dur)) if ts > 0 && dur >= 0 =>
        Right(mp4Bytes(w, h, ts, dur, body))
      case _ => Left("bad_fields")
    }

  /** Body offset of a builder-shaped payload (after ftyp+moov+mdat
    * header = 24 + 216 + 8) — the encoder's split point, validated
    * against the mdat box the parser walked.
    */
  val BodyOffset: Int = 24 + 216 + 8

  // -------------------------------------------------------------- query def

  def videoTable(s: org.apache.spark.sql.SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select("doc_id", "text", "n_chars")
      .as[(Long, String, Long)]
      .map { case (id, text, n) => (id, buildVideoPayload(id, text, n)) }
  }

  /** Oracle-checked end-to-end: mvhd/tkhd fields parsed from the bytes
    * must equal the values DuckDB derives from doc columns, and the
    * checksum must equal a fold over the exact reconstructed byte
    * sequence (ftyp/moov/mvhd/trak/tkhd/mdat built with integer
    * arithmetic ++ text byte codes, with the injections applied).
    */
  val mmVideo = QueryDef(
    "q_mm_video",
    (s, dir) => {
      import s.implicits._
      videoTable(s, dir)
        .mapPartitions(_.map { case (id, payload) => VideoParser.parse(id, payload) })
        .toDF()
        .orderBy("media_id")
    },
    Some(videoOracle),
  )

  /** Parse → re-encode → loose-object export for clean video rows; the
    * write-half twin of [[ContainerOps.ensureEncodedObjects]] (same
    * quarantine semantics: rows the parser rejected have nothing to
    * re-encode and are dropped).
    */
  def ensureEncodedVideoObjects(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    import s.implicits._
    ContainerOps.exportObjects(s, dir, "target/graft-video-encoded",
      videoTable(s, dir).flatMap { case (id, payload) =>
        val parsed = VideoParser.parse(id, payload)
        if (parsed.error.isEmpty && payload.length >= BodyOffset) {
          val body = java.util.Arrays.copyOfRange(payload, BodyOffset, payload.length)
          encodeVideo(parsed, body).toOption.map(id -> _) // Left: quarantined
        } else None
      })
  }

  /** The video ENCODE round-trip through the object store, mirroring
    * q_mm_encode: re-parsed fields + checksum over the REBUILT mp4 bytes
    * must equal the clean subset of the video oracle — closing the
    * build→store→scan→parse→encode symmetry for the third modality.
    */
  val mmVideoEncode = QueryDef(
    "q_mm_video_encode",
    (s, dir) => {
      import org.apache.spark.sql.functions.{col, regexp_extract}
      import s.implicits._
      val base = ensureEncodedVideoObjects(s, dir)
      s.read.format("binaryFile").load(s"$base/m*.bin")
        .select(regexp_extract(col("path"), "m(\\d+)\\.bin$", 1).cast("long").as("media_id"),
          col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, payload) => VideoParser.parse(id, payload) })
        .toDF()
        .orderBy("media_id")
    },
    Some(videoEncodeOracle),
  )

  private lazy val videoOracleBase: String = ("""
      WITH doc AS (SELECT doc_id, text, n_chars, octet_length(encode(text)) AS len FROM documents),
      p AS (SELECT doc_id, text, len,
              CAST(n_chars % 512 + 16 AS BIGINT) AS w,
              CAST(n_chars % 384 + 16 AS BIGINT) AS h,
              CAST(600 * (1 + doc_id % 5) AS BIGINT) AS ts,
              CAST((n_chars * 25) % 1000000 AS BIGINT) AS dur
            FROM doc),
      hdr AS (SELECT *, list_concat(list_concat(list_concat(list_concat(list_concat(list_concat(
        -- ftyp(24)
        [CAST(0 AS BIGINT),0,0,24, 102,116,121,112, 105,115,111,109, 0,0,2,0, 105,115,111,109, 109,112,52,49],
        -- moov(216) + mvhd(108): vf, creation, modification
        [CAST(0 AS BIGINT),0,0,216, 109,111,111,118,
         0,0,0,108, 109,118,104,100, 0,0,0,0, 0,0,0,0, 0,0,0,0]),
        -- timescale, duration
        [ts//16777216%256, ts//65536%256, ts//256%256, ts%256,
         dur//16777216%256, dur//65536%256, dur//256%256, dur%256]),
        -- rate, volume+reserved(10), unity matrix(36), pre_defined(24), next_track_ID
        [CAST(0 AS BIGINT),1,0,0, 1,0, 0,0, 0,0,0,0, 0,0,0,0,
         0,1,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,1,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 64,0,0,0,
         0,0,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0,
         0,0,0,2]),
        -- trak(100) + tkhd(92): vf(enabled), creation, modification, track 1, reserved
        [CAST(0 AS BIGINT),0,0,100, 116,114,97,107,
         0,0,0,92, 116,107,104,100, 0,0,0,7, 0,0,0,0, 0,0,0,0, 0,0,0,1, 0,0,0,0]),
        -- duration, reserved(8), layer/alt/volume/reserved(8), unity matrix(36), width<<16, height<<16
        [dur//16777216%256, dur//65536%256, dur//256%256, dur%256,
         0,0,0,0, 0,0,0,0, 0,0, 0,0, 0,0, 0,0,
         0,1,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,1,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 64,0,0,0,
         w//256%256, w%256, 0,0, h//256%256, h%256, 0,0]),
        -- mdat header
        [(8+len)//16777216%256, (8+len)//65536%256, (8+len)//256%256, (8+len)%256, 109,100,97,116])
        AS hcodes FROM p),
      fullp AS (SELECT *, list_concat(
                  list_transform(hcodes, x -> CAST(x AS BIGINT)),
                  list_transform(range(1, len+1), i -> CAST(unicode(substring(text,i,1)) AS BIGINT))) AS codes0
                FROM hdr),
      eff AS (SELECT *,
        CASE WHEN doc_id % 97 = 0 THEN list_concat(list_concat(codes0[1:4], [xor(codes0[5], CAST(255 AS BIGINT))]), codes0[6:])
             WHEN doc_id % 89 = 0 THEN codes0[1:10]
             ELSE codes0 END AS codes,
        CASE WHEN doc_id % 97 = 0 THEN 'bad_magic'
             WHEN doc_id % 89 = 0 THEN 'truncated'
             ELSE CAST(NULL AS VARCHAR) END AS error
        FROM fullp)
      SELECT doc_id AS media_id,
        CASE WHEN error = 'bad_magic' THEN NULL ELSE 'mp4' END AS format,
        CAST(len(codes) AS INTEGER) AS n_bytes,
        list_reduce(list_prepend(CAST(1 AS BIGINT), codes),
                    (acc, x) -> (acc * 31 + x) % 1000000007) AS checksum,
        CAST(CASE WHEN error IS NULL THEN w END AS INTEGER) AS width,
        CAST(CASE WHEN error IS NULL THEN h END AS INTEGER) AS height,
        CAST(CASE WHEN error IS NULL THEN ts END AS INTEGER) AS timescale,
        CAST(CASE WHEN error IS NULL THEN dur END AS INTEGER) AS duration,
        error
      FROM eff
    """).trim

  private lazy val videoOracle: String =
    videoOracleBase + "\n      ORDER BY media_id"

  /** Clean subset (encode quarantines the injected-malformed rows). */
  private lazy val videoEncodeOracle: String =
    s"SELECT * FROM (\n$videoOracleBase\n) t WHERE error IS NULL ORDER BY media_id"

  /** Video corpus landed as a PACK-STORE base generation — the modality
    * symmetry proof: [[PackStore]] is payload-agnostic (ids + bytes), so
    * the MP4 corpus compacts, snapshots, and range-reads exactly like
    * the image/audio corpus, and the SAME video oracle must hold through
    * the packed layout. Layout and modality are orthogonal axes.
    */
  def ensureVideoPack(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.sources.GraftFs.artifact(s, dir, tag =>
        s"target/graft-video-pack/${ContainerOps.payloadFingerprint}-p${ContainerOps.NumPacks}-s2/$tag") {
      PackStore.initBase(s, _, videoTable(s, dir), ContainerOps.NumPacks)
    }

  val mmVideoPacked = QueryDef(
    "q_mm_video_packed",
    (s, dir) => {
      import s.implicits._
      val base = ensureVideoPack(s, dir)
      PackStore.scanBytes(s, base)
        .mapPartitions(_.map { case (id, payload) => VideoParser.parse(id, payload) })
        .toDF()
        .orderBy("media_id")
    },
    Some(videoOracle),
  )

  // mmVideoEncode is NOT registered: the encode round-trip is proven
  // equal to the clean subset of the video oracle every test run
  // (ContainerSpec) and its loose-object listing tax duplicates
  // mmEncode's registered price tag; retired from the registered bench
  // in r9 per the bench-budget worksheet. mmVideo + mmVideoPacked keep
  // the modality's oracle coverage registered.
  // ------------------------------------------------ sample-table frames

  /** One box: BE32 size + type + payload. */
  private def box(t: String, payload: Array[Byte]): Array[Byte] =
    be32(8 + payload.length) ++ tpe(t) ++ payload

  /** Minimal MP4 with a REAL sample table: ftyp +
    * moov(trak(mdia(minf(stbl(stsz))))) + mdat. stsz is the genuine
    * ISO/IEC 14496-12 §8.7.3.2 layout (version/flags, sample_size = 0 ⇒
    * per-sample table, count, BE32 sizes); samples are the doc's
    * whitespace tokens and mdat is their concatenation.
    */
  private[graft] def mp4WithSamples(samples: Seq[Array[Byte]]): Array[Byte] = {
    val stszPayload = be32(0) ++ be32(0) ++ be32(samples.length) ++
      samples.flatMap(s => be32(s.length)).toArray
    val moov = box("moov", box("trak", box("mdia", box("minf",
      box("stbl", box("stsz", stszPayload))))))
    val ftyp = be32(16) ++ tpe("ftyp") ++ tpe("isom") ++ be32(0x200)
    val mdat = box("mdat", samples.flatten.toArray)
    ftyp ++ moov ++ mdat
  }

  /** Descend a box path (each step a direct child scan, sizes checked —
    * the real demuxer walk); returns the payload range of the last box.
    */
  private[graft] def findBox(p: Array[Byte], start: Int, end: Int,
      path: List[String]): Option[(Int, Int)] = path match {
    case Nil => Some((start, end))
    case t :: rest =>
      var i = start
      while (i + 8 <= end) {
        val size = ((p(i) & 0xff) << 24) | ((p(i + 1) & 0xff) << 16) |
          ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
        if (size < 8 || i + size > end) return None
        if (new String(p, i + 4, 4, "US-ASCII") == t)
          return findBox(p, i + 8, i + size, rest)
        i += size
      }
      None
  }

  /** Frame extraction at SAMPLE-TABLE-parsed boundaries — the video twin
    * of the PNG-geometry graduation: the decoder walks the real box tree
    * (moov→trak→mdia→minf→stbl→stsz), reads the per-sample size table,
    * and slices mdat at the CUMULATIVE PARSED OFFSETS — exactly how a
    * demuxer locates frames; nothing about the split is known a priori.
    * Every 4th sample emits (size, mean byte, poly checksum). The oracle
    * reconstructs the same samples from the tokenization, so a one-byte
    * error anywhere in build → box walk → stsz decode → offset slicing
    * breaks the hash compare.
    */
  val mmVideoFrames = QueryDef(
    "q_mm_video_frames",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          val samples = text.split(" ", -1).filter(_.nonEmpty).map(_.getBytes("UTF-8")).toSeq
          val p = mp4WithSamples(samples)
          // ---- the real decode ----
          val (ss, se) = findBox(p, 0, p.length,
            List("moov", "trak", "mdia", "minf", "stbl", "stsz")).get
          require(se - ss >= 12, "stsz too small")
          def rBe(i: Int): Int = ((p(i) & 0xff) << 24) | ((p(i + 1) & 0xff) << 16) |
            ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
          require(rBe(ss) == 0 && rBe(ss + 4) == 0, "fixed-size profile unexpected")
          val n = rBe(ss + 8)
          val sizes = (0 until n).map(k => rBe(ss + 12 + 4 * k))
          val (ms, me) = findBox(p, 0, p.length, List("mdat")).get
          require(me - ms == sizes.sum, "mdat size != stsz total")
          var off = ms
          (0 until n).flatMap { k =>
            val sz = sizes(k)
            val o = off
            off += sz
            if (k % 4 == 0) {
              var sum = 0L
              var acc = 1L
              var i = o
              while (i < o + sz) {
                val b = p(i) & 0xff
                sum += b; acc = (acc * 31 + b) % 1000000007L; i += 1
              }
              Some((id, k, sz, acc, sum.toDouble / sz))
            } else None
          }
        }).toDF("media_id", "sample_idx", "n_bytes", "checksum", "sample_mean")
        .orderBy("media_id", "sample_idx")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id AS media_id, t.tok, t.k - 1 AS sample_idx FROM (
          SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok,
                 generate_subscripts(list_filter(string_split(text, ' '), x -> len(x) > 0), 1) AS k
          FROM documents) t(doc_id, tok, k)),
      f AS (SELECT media_id, sample_idx, tok, octet_length(encode(tok)) AS n_bytes
            FROM toks WHERE sample_idx % 4 = 0)
      SELECT media_id, CAST(sample_idx AS INTEGER) AS sample_idx,
             CAST(n_bytes AS INTEGER) AS n_bytes,
             list_reduce(list_prepend(CAST(1 AS BIGINT),
               list_transform(range(1, n_bytes + 1), i -> CAST(unicode(substring(tok, CAST(i AS INTEGER), 1)) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 1000000007) AS checksum,
             CAST(list_sum(list_transform(range(1, n_bytes + 1),
               i -> unicode(substring(tok, CAST(i AS INTEGER), 1)))) AS DOUBLE) / n_bytes AS sample_mean
      FROM f ORDER BY media_id, sample_idx
    """.trim),
  )

  def defs: Seq[QueryDef] = Seq(mmVideo, mmVideoPacked, mmVideoFrames)
}
