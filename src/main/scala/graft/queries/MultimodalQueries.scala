package graft.queries

import graft.multimodal.{MediaCodec, MediaFile}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column surface: opaque binary payloads + typed metadata,
  * decode / feature-extract / frame-sample as typed Dataset transforms
  * over [[graft.multimodal.MediaCodec]]. All three modality paths run
  * REAL JRE parsers: `javax.imageio` PNG decode + Graphics2D resize for
  * images, `javax.sound.sampled` RIFF/WAV parse for audio, and
  * multi-frame animated GIF through `javax.imageio` for video (frame
  * count, per-frame dims/pixels and GCE frame timing all read back out
  * of the container).
  *
  * Fixture media is synthesized from `documents.text` (`cast(text AS
  * binary)` — ASCII, so byte length == char length), with the modality
  * assigned round-robin from `doc_id`. The image transcode is
  * deterministic (dimensions/pixels are functions of the payload), so
  * every query here is fully oracle-backed: the oracle predicts the
  * generator, and the Spark side round-trips those values through an
  * actual decoder.
  */
object MultimodalQueries extends QueryModule {

  /** The fixture's modality assignment, used so per-modality queries
    * can filter as a COLUMN predicate before the spread exchange and
    * the typed boundary (a typed `.filter(_.mediaType == ...)` runs
    * after deserialization and ships every modality's payload through
    * the shuffle first — 3x the exchange volume for nothing). */
  private val modalityOf = Map("image" -> 0, "audio" -> 1, "video" -> 2)

  /** The typed media source: Dataset[MediaFile] over a binary column.
    * spread: the PNG transcode+decode downstream is the CPU-heavy
    * narrow stage, and the fixture file is one split — without the
    * round-robin exchange every decode lands on ONE task (measured:
    * the whole image batch single-threaded). At production scale the
    * table is thousands of splits and spread is a planning no-op. */
  private def media(s: SparkSession, dir: String,
      modality: Option[String] = None): Dataset[MediaFile] = {
    import s.implicits._
    // Project BEFORE the spread exchange so only (doc_id, text) crosses
    // the round-robin shuffle, not the whole documents row.
    val base = Tables.documents(s, dir).select("doc_id", "text")
    val scoped = modality.fold(base)(m =>
      base.where(s"doc_id % 3 = ${modalityOf(m)}"))
    QueryModule.spread(scoped)
      .selectExpr(
        "doc_id AS docId",
        "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS mediaType",
        "cast(text AS binary) AS payload")
      .as[MediaFile]
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Typed decode: Dataset[MediaFile] → Dataset[MediaMeta]. One narrow
    // map stage, no shuffle; at 100 TB this is the embarrassingly
    // parallel stage where the real codec burns CPU.
    "mm_metadata" -> ((s, dir) => {
      import s.implicits._
      media(s, dir).map(MediaCodec.decode)
        .toDF()
        .select($"docId".as("doc_id"), $"mediaType".as("media_type"),
          $"byteLen".as("byte_len"), $"width", $"height", $"channels",
          $"durationMs".as("duration_ms"))
        .orderBy("doc_id")
    }),

    // Feature extraction: an 8-bucket byte histogram per payload — a
    // deliberately simple deterministic featurizer computed on the real
    // bytes (declarative HOF form — stays in codegen, no typed
    // boundary; an embedding model would slot in at this same shape).
    "mm_features" -> ((s, dir) => {
      val buckets = (0 to 7).map(b =>
        s"size(filter(split(text, ''), c -> ascii(c) % 8 = $b)) AS f$b")
      Tables.documents(s, dir)
        .selectExpr("doc_id" +: buckets: _*)
        .orderBy("doc_id")
    }),

    // AUDIO ENERGY FEATURES — the per-clip loudness profile an
    // audio-corpus quality filter thresholds on (silence/clipping
    // screens, VAD pre-filtering): sample count, Σ|x|, Σx² (the RMS
    // numerator) and peak amplitude per audio doc, computed from PCM16
    // samples decoded through the REAL RIFF parser (AudioInputStream's
    // decoded byte stream, paired little-endian — a container-framing
    // bug shows up here as a value diff, not silence). All exact
    // integers, so the oracle replays the identical pairing from the
    // payload's text bytes (ASCII ⇒ hi byte < 0x80 ⇒ all samples
    // non-negative on this fixture; the abs in-path is the general
    // form). Narrow per-partition decode map, no shuffle — the
    // embarrassingly parallel stage where a real codec burns CPU.
    "mm_audio_energy" -> ((s, dir) => {
      import s.implicits._
      media(s, dir, Some("audio")).map { m =>
        val xs = graft.multimodal.MediaCodec.pcmSamples(m)
        var sumAbs = 0L; var sumSq = 0L; var peak = 0L
        xs.foreach { v =>
          val a = math.abs(v.toLong)
          sumAbs += a; sumSq += v.toLong * v
          if (a > peak) peak = a
        }
        (m.docId, xs.length.toLong, sumAbs, sumSq, peak)
      }.toDF("doc_id", "n_samples", "sum_abs", "sum_sq", "peak")
        .orderBy("doc_id")
    }),

    // Frame sampling: videos only, every frame ACTUALLY DECODED from
    // the multi-frame GIF container — per-frame dims, GCE delay, and
    // the first pixel's round-tripped gray value all come out of the
    // JRE's GIF parser, not arithmetic. Same narrow no-shuffle shape as
    // mm_metadata.
    "mm_frames" -> ((s, dir) => {
      import s.implicits._
      media(s, dir, Some("video"))
        .flatMap(MediaCodec.sampleFrames)
        .toDF("doc_id", "frame_idx", "frame_w", "frame_h", "delay_cs", "px0")
        .orderBy("doc_id", "frame_idx")
    }),

    // TEMPORAL FRAME DELTA — the scene-cut/keyframe signal: the
    // L1 pixel difference between consecutive decoded frames (row 0,
    // the row every frame populates), per video doc. Real decode path
    // (javax.imageio GIF rasters, consecutive reads of the same
    // container); narrow per-partition map like the other decode
    // queries — at 100 TB this is the per-file CPU stage before any
    // shuffle. The oracle predicts every delta byte-exactly from the
    // generator (frame i's row is the payload rotated by i, and the
    // 256-entry grayscale palette round-trips bytes losslessly).
    "mm_frame_delta" -> ((s, dir) => {
      import s.implicits._
      media(s, dir, Some("video"))
        .flatMap(MediaCodec.frameRowDeltas)
        .toDF("doc_id", "pair_idx", "delta")
        .orderBy("doc_id", "pair_idx")
    }),

    // Resize: images only, fit into a 256x256 box preserving aspect
    // ratio. REAL path: PNG decode + Graphics2D raster scale per row
    // (MediaCodec.resizeImage); out_w/out_h are read back from the
    // scaled raster. A narrow map stage, like decode — at 100 TB this
    // is pure per-partition CPU, no shuffle.
    "mm_resize" -> ((s, dir) => {
      import s.implicits._
      media(s, dir, Some("image"))
        .map { m =>
          val (meta, ow, oh) = MediaCodec.resizeImage(m, 256)
          (meta.docId, meta.width, meta.height, ow, oh)
        }
        .toDF("doc_id", "width", "height", "out_w", "out_h")
        .orderBy("doc_id")
    }),

    // PERCEPTUAL HASH: 64-bit average-hash per image computed
    // from the REAL decoded raster — 8×8 block pixel sums (truncating
    // grid boundaries), bit set where block mean exceeds the global
    // mean, compared in cross-multiplied exact BIGINTs (block_sum·w·h
    // > total_sum·block_pixels — no float mean anywhere, so the hash
    // is bit-deterministic). The image near-dup primitive: at 100 TB
    // the hashes feed the dedup_simhash chunk-blocking machinery
    // (16-bit bands → hamming verify) unchanged. A narrow decode map
    // + per-row integer fold, no shuffle before the output sort. The
    // oracle predicts every bit from the generator (payload bytes fill
    // row 0, PNG grayscale is lossless): only row-0 blocks can carry
    // mass, so bits 8..63's comparisons are provably 0 > total·cnt —
    // the SQL evaluates the identical full formula.
    "mm_phash" -> ((s, dir) => {
      import s.implicits._
      media(s, dir, Some("image")).map { m =>
        val (w, h, sums) = MediaCodec.grayBlockSums(m, 8)
        val total = sums.sum
        val wl = w.toLong; val hl = h.toLong
        var hash = 0L
        var j = 0
        while (j < 8) {
          val rc = (j + 1) * hl / 8 - j * hl / 8
          var i = 0
          while (i < 8) {
            val cc = (i + 1) * wl / 8 - i * wl / 8
            if (sums(j * 8 + i) * wl * hl > total * (rc * cc))
              hash |= 1L << (j * 8 + i)
            i += 1
          }
          j += 1
        }
        (m.docId, w, h, hash)
      }.toDF("doc_id", "width", "height", "phash")
        .orderBy("doc_id")
    }),

    // END-TO-END file ingestion: the decode inputs here are ACTUAL
    // .png/.jpg/.wav/.gif FILES on disk, read back through Spark's
    // `binaryFile` source and parsed by magic number — no transcode
    // anywhere on the read path, closing the "payloads are synthesized
    // in memory" caveat of the other mm queries. The fixture-prep step
    // (writing 60 real container files to a temp dir) is the harness
    // stand-in for the object store a production corpus already lives
    // in; it is driver-side and bounded by design. DEPLOYMENT
    // CONSTRAINT: the staging dir defaults to DRIVER-LOCAL temp, so
    // the binaryFile scan only finds it when executors share the
    // driver's filesystem — true in local[N] and same-host
    // local-cluster (ClusterSmoke --all). On a multi-node cluster set
    // SPARK_GRAFT_STAGING to a shared mount (GraftSession.stagingDir)
    // and the same code stages where every executor can scan; the
    // query path is unchanged either way. The QUERY path — distributed
    // binaryFile scan, filename→key extraction, per-row magic-sniffed
    // JRE parse — is exactly the production shape. Every reported
    // value (dims, channels, frame counts, duration) comes out of the
    // real parser over real file bytes; the oracle predicts them from
    // the generators.
    "mm_ingest" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_mm_ingest_") { tmp =>
        Tables.documents(s, dir).select($"doc_id", $"text")
          .where($"doc_id" < 60).collect().foreach { r =>
            val id = r.getLong(0)
            // Image docs alternate containers: doc_id % 6 == 0 → PNG,
            // == 3 → JPEG (the ubiquitous lossy format — header dims
            // and grayscale color model round-trip; pixels needn't).
            val mt = (id % 3) match {
              case 0 => if (id % 6 == 0) "image" else "jpeg"
              case 1 => "audio"; case _ => "video"
            }
            val payload = r.getString(1).getBytes("UTF-8")
            java.nio.file.Files.write(
              tmp.resolve(s"doc$id.${MediaCodec.extensionFor(mt)}"),
              MediaCodec.containerFor(MediaFile(id, mt, payload)))
          }
        val parsed = s.read.format("binaryFile").load(tmp.toString)
          .select(
            regexp_extract($"path", "doc(\\d+)\\.", 1).cast("long").as("doc_id"),
            regexp_extract($"path", "\\.([a-z]+)$", 1).as("ext"),
            $"content")
          .as[(Long, String, Array[Byte])]
          .map { case (id, ext, bytes) =>
            val mt = ext match {
              case "png" | "jpg" => "image"
              case "wav"         => "audio"
              case _             => "video"
            }
            val (magic, w, h, ch, nf, durMs) = MediaCodec.parseContainer(bytes)
            (id, mt, magic, w, h, ch, nf, durMs)
          }
          .toDF("doc_id", "media_type", "container", "width", "height",
            "channels", "n_frames", "duration_ms")
          .orderBy("doc_id")
        parsed
      }
    }),

    // Batched processing shape: KeyValueGroupedDataset.mapGroups over an
    // explicit integer bucket — the pattern a batch-decode API (GPU
    // inference, micro-batched codec calls) hangs off.
    "mm_batch_stats" -> ((s, dir) => {
      import s.implicits._
      media(s, dir)
        .groupByKey(_.docId % 4)
        .mapGroups { (bucket, it) =>
          var n = 0L; var sum = 0L
          var minLen = Long.MaxValue; var maxLen = Long.MinValue
          it.foreach { m =>
            val len = m.payload.length.toLong
            n += 1; sum += len
            if (len < minLen) minLen = len
            if (len > maxLen) maxLen = len
          }
          (bucket, n, sum, minLen, maxLen)
        }
        .toDF("bucket", "n", "sum_bytes", "min_bytes", "max_bytes")
        .orderBy("bucket")
    })
  )

  override def oracles: Map[String, String] = Map(
    // ALL rows come from REAL decoders over deterministic transcodes,
    // so the oracle predicts the generators: images keep the
    // width/height formulas (PNG-header round-tripped on the Spark
    // side) with 1 grayscale channel; audio is mono PCM16 @ 8 kHz
    // (frames = byte_len div 2, duration = frames/8 ms, no
    // dimensions); video round-trips an animated GIF — same dims
    // formulas (logical screen), 3 channels (the decoded palette color
    // model), duration = frames × per-frame GCE delay
    // (min(5, len/100+1) frames of (len%100+1) cs each).
    "mm_metadata" ->
      """WITH m AS (SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    octet_length(encode(text)) AS byte_len
        |  FROM documents)
        |SELECT doc_id, media_type, byte_len,
        |  CASE media_type WHEN 'audio' THEN 0
        |    ELSE CAST(64 + byte_len % 577 AS INT) END AS width,
        |  CASE media_type WHEN 'audio' THEN 0
        |    ELSE CAST(64 + (byte_len * 31) % 449 AS INT) END AS height,
        |  CASE media_type WHEN 'video' THEN 3 ELSE 1 END AS channels,
        |  CASE media_type WHEN 'image' THEN 0
        |    WHEN 'audio' THEN (byte_len // 2) * 1000 // 8000
        |    ELSE least(5, byte_len // 100 + 1) * ((byte_len % 100) + 1) * 10
        |    END AS duration_ms
        |FROM m
        |ORDER BY doc_id""".stripMargin,
    "mm_features" ->
      ("""SELECT doc_id, """ +
        (0 to 7).map(b =>
          s"len(list_filter(string_split(text, ''), c -> ascii(c) % 8 = $b)) AS f$b")
          .mkString(", ") +
        """ FROM documents ORDER BY doc_id"""),
    // Replays the PCM16 little-endian pairing from the text bytes:
    // sample i = code(2i-1) + 256·code(2i) (ASCII ⇒ non-negative, so
    // sum_abs = plain sum). Coalesce guards the ns=0 empty list.
    "mm_audio_energy" ->
      """WITH a AS (SELECT doc_id, text, len(text) // 2 AS ns
        |           FROM documents WHERE CAST(doc_id % 3 AS INT) = 1),
        |s AS (SELECT doc_id, ns,
        |        [ascii(substr(text, 2*i-1, 1)) + 256 * ascii(substr(text, 2*i, 1))
        |         FOR i IN range(1, ns + 1)] AS v
        |      FROM a)
        |SELECT doc_id, CAST(ns AS BIGINT) AS n_samples,
        |  CAST(coalesce(list_sum(v), 0) AS BIGINT) AS sum_abs,
        |  CAST(coalesce(list_sum([x * x FOR x IN v]), 0) AS BIGINT) AS sum_sq,
        |  CAST(coalesce(list_max(v), 0) AS BIGINT) AS peak
        |FROM s
        |ORDER BY doc_id""".stripMargin,

    // Predicts the GIF generator frame by frame: frame 0 is the full
    // logical screen, later frames are 1-px strips; every frame carries
    // the same (blen%100)+1 cs delay; the first pixel of frame i is the
    // payload byte at offset i (the row is the payload rotated by i),
    // which for the ASCII fixture is ascii(substr(text, i+1, 1)).
    // Empty-doc guard (greatest(blen,1) + coalesce): an empty payload
    // encodes as one all-zero frame (the raster loop never writes), so
    // px0 must degrade to 0 — NOT to the NULL a bare `i % 0` yields in
    // DuckDB — if the fixture ever gains an empty video doc.
    "mm_frames" ->
      """WITH m AS (SELECT doc_id, text, octet_length(encode(text)) AS blen
        |           FROM documents WHERE CAST(doc_id % 3 AS INT) = 2),
        |f AS (SELECT doc_id, text, blen, least(5, blen // 100 + 1) AS nf,
        |        CAST(64 + blen % 577 AS INT) AS w,
        |        CAST(64 + (blen * 31) % 449 AS INT) AS h,
        |        CAST((blen % 100) + 1 AS INT) AS delay_cs
        |      FROM m)
        |SELECT doc_id, i.i AS frame_idx, w AS frame_w,
        |  CASE WHEN i.i = 0 THEN h ELSE 1 END AS frame_h,
        |  delay_cs,
        |  coalesce(ascii(substr(text, CAST(i.i % greatest(blen, 1) AS INT) + 1, 1)), 0) AS px0
        |FROM f, range(0, 5) i(i)
        |WHERE i.i < nf
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // Generator replay: payload bytes fill raster row 0 (truncated at
    // w), all other pixels are 0, so block (i, j=0) sums the payload
    // bytes in its column range and every j>0 block sums to zero — its
    // bit comparison is 0 > total·cnt, false whenever any payload byte
    // is nonzero. The bit formula is the identical cross-multiplied
    // integer comparison the Scala side evaluates on the decoded
    // raster.
    // Generator replay for the deltas: frame i's row-0 pixel x is
    // payload[(x+i) % blen] for x < min(w, blen) and 0 beyond, so the
    // pair delta is a closed-form sum over the text bytes.
    "mm_frame_delta" ->
      """WITH m AS (SELECT doc_id, text, octet_length(encode(text)) AS blen
        |           FROM documents WHERE CAST(doc_id % 3 AS INT) = 2),
        |f AS (SELECT doc_id, text, blen, least(5, blen // 100 + 1) AS nf,
        |        CAST(64 + blen % 577 AS INT) AS w
        |      FROM m)
        |SELECT doc_id, i.i AS pair_idx,
        |  CAST(coalesce(list_sum(
        |    [abs(ascii(text[CAST((x + i.i) % blen AS INT) + 1])
        |        - ascii(text[CAST((x + i.i + 1) % blen AS INT) + 1]))
        |     FOR x IN range(0, least(w, blen))]), 0) AS BIGINT) AS delta
        |FROM f, range(0, 4) i(i)
        |WHERE i.i < nf - 1
        |ORDER BY doc_id, pair_idx""".stripMargin,

    "mm_phash" ->
      """WITH m AS (SELECT doc_id, text,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS blen
        |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 0),
        |d AS (SELECT doc_id, text, blen,
        |        CAST(64 + blen % 577 AS BIGINT) AS w,
        |        CAST(64 + (blen * 31) % 449 AS BIGINT) AS h
        |      FROM m),
        |b AS (SELECT doc_id, w, h,
        |        [coalesce(list_sum([ascii(text[x + 1]) FOR x IN
        |           range(i * w // 8, least((i + 1) * w // 8, blen))]), 0)
        |         FOR i IN range(0, 8)] AS s,
        |        [((i + 1) * w // 8 - i * w // 8) * (h // 8)
        |         FOR i IN range(0, 8)] AS cnt
        |      FROM d)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(coalesce(list_sum(
        |    [CASE WHEN s[i + 1] * w * h > list_sum(s) * cnt[i + 1]
        |          THEN 1 << i ELSE 0 END FOR i IN range(0, 8)]), 0) AS BIGINT)
        |    AS phash
        |FROM b
        |ORDER BY doc_id""".stripMargin,
    "mm_resize" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS blen
        |           FROM documents WHERE CAST(doc_id % 3 AS INT) = 0),
        |d AS (SELECT doc_id,
        |        CAST(64 + blen % 577 AS INT) AS width,
        |        CAST(64 + (blen * 31) % 449 AS INT) AS height
        |      FROM m)
        |SELECT doc_id, width, height,
        |  CAST(width * 256 // greatest(width, height) AS INT) AS out_w,
        |  CAST(height * 256 // greatest(width, height) AS INT) AS out_h
        |FROM d
        |ORDER BY doc_id""".stripMargin,
    // Predicts what the real parsers read back out of the real files:
    // container magic per modality (image docs alternate PNG and JPEG
    // by doc_id % 6 — JPEG is lossy so only its HEADER values are
    // predicted: exact dims and the 1-component grayscale model, which
    // the generator fixes), the generator dims (PNG/JPEG logical size /
    // GIF logical screen), PCM frame count = blen div 2 (odd trailing
    // byte dropped by the WAV transcode), GIF frame count and GCE
    // timing. n_frames promotes to BIGINT (the audio branch is a
    // division) — the Spark side emits long to match.
    "mm_ingest" ->
      """WITH m AS (SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    octet_length(encode(text)) AS blen
        |  FROM documents WHERE doc_id < 60)
        |SELECT doc_id, media_type,
        |  CASE media_type
        |    WHEN 'image' THEN (CASE WHEN doc_id % 6 = 0 THEN 'PNG' ELSE 'JPEG' END)
        |    WHEN 'audio' THEN 'RIFF' ELSE 'GIF8' END AS container,
        |  CASE media_type WHEN 'audio' THEN 0
        |    ELSE CAST(64 + blen % 577 AS INT) END AS width,
        |  CASE media_type WHEN 'audio' THEN 0
        |    ELSE CAST(64 + (blen * 31) % 449 AS INT) END AS height,
        |  CASE media_type WHEN 'video' THEN 3 ELSE 1 END AS channels,
        |  CASE media_type WHEN 'image' THEN 1
        |    WHEN 'audio' THEN blen // 2
        |    ELSE least(5, blen // 100 + 1) END AS n_frames,
        |  CASE media_type WHEN 'image' THEN 0
        |    WHEN 'audio' THEN (blen // 2) * 1000 // 8000
        |    ELSE least(5, blen // 100 + 1) * ((blen % 100) + 1) * 10
        |    END AS duration_ms
        |FROM m
        |ORDER BY doc_id""".stripMargin,
    "mm_batch_stats" ->
      """SELECT doc_id % 4 AS bucket, count(*) AS n,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
        |  min(octet_length(encode(text))) AS min_bytes,
        |  max(octet_length(encode(text))) AS max_bytes
        |FROM documents
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin
  )
}
