package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.Multimodal

/** Multimodal-column surface: binary payload + typed metadata, and the
  * per-partition decode path. ALL queries are oracle-checked: the stub
  * codec's byte arithmetic (mod-fold checksum, bucketed histogram
  * embedding) is deterministic and — because the document corpus is
  * printable ASCII, so UTF-8 payload bytes equal code points — exactly
  * reproducible in DuckDB via list_reduce/list_transform lambdas. A real
  * codec would drop m_decode/m_embed_knn back to rows-only checks; the
  * pipeline shape under test (binary columns, per-partition decode, fan-out,
  * embedding → kNN) is unchanged either way.
  */
object MultimodalOps {

  val queries: Seq[Query] = Seq(
    Query("m_asset_meta", (s, dir) => {
      Multimodal.assetsFromDocuments(Tables.load(s, dir, "documents"), "doc_id", "text")
        .select("asset_id", "modality", "byte_len", "format")
    }, oracle =
      """SELECT doc_id AS asset_id,
                (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS modality,
                CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
                (['jpeg','wav','mp4'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS format
         FROM documents"""),
    Query("m_decode", (s, dir) => {
      Multimodal.decodeFeatures(
        Multimodal.assetsFromDocuments(Tables.load(s, dir, "documents"), "doc_id", "text"))
    }, oracle =
      // replays decodeStub's byte fold: acc = (acc*31 + byte) % 1000003,
      // seeded 0 — list_reduce's first-element seed is identical because
      // (0*31 + b0) % 1000003 = b0 for any ASCII byte
      """SELECT doc_id AS asset_id,
                (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS modality,
                CAST(1 + length(text) // 1024 AS INTEGER) AS n_frames,
                CAST(CASE WHEN length(text) = 0 THEN 0
                          ELSE list_reduce(
                                 list_transform(range(1, length(text) + 1), i -> unicode(text[i])),
                                 (a, b) -> (a * 31 + b) % 1000003) END AS DOUBLE)
                  / 1000003.0 AS feature_norm
         FROM documents"""),
    Query("m_frames", (s, dir) => {
      // frame fan-out metadata (frame bytes themselves stay binary-opaque);
      // byte accounting is oracle-checkable
      Multimodal.sampleFrames(
        Multimodal.assetsFromDocuments(Tables.load(s, dir, "documents"), "doc_id", "text"),
        strideBytes = 64)
        .groupBy("asset_id")
        .agg(count(lit(1)).cast("int").as("n_frames"),
          sum(length(col("frame_bytes"))).cast("bigint").as("total_bytes"))
    }, oracle =
      """SELECT doc_id AS asset_id,
                CAST(greatest(1, (octet_length(encode(text)) + 63) // 64) AS INTEGER) AS n_frames,
                CAST(octet_length(encode(text)) AS BIGINT) AS total_bytes
         FROM documents"""),
    Query("m_resize", (s, dir) => {
      // stub resize/transcode: every-4th-byte downsample; the digest of the
      // resized payload is oracle-checkable because the corpus is pure
      // ASCII (payload bytes == text chars, see m_decode's note)
      Multimodal.resizeAssets(
        Multimodal.assetsFromDocuments(Tables.load(s, dir, "documents"), "doc_id", "text"),
        factor = 4)
        .select(col("asset_id"), col("orig_len"), col("new_len"),
          md5(col("resized")).as("digest"))
    }, oracle =
      """SELECT doc_id AS asset_id,
                CAST(length(text) AS INTEGER) AS orig_len,
                CAST((length(text) + 3) // 4 AS INTEGER) AS new_len,
                md5(array_to_string(list_transform(
                      generate_series(1, (length(text) + 3) // 4),
                      i -> substr(text, (i - 1) * 4 + 1, 1)), '')) AS digest
         FROM documents"""),
    Query("m_codec", (s, dir) => {
      // the pluggable-Codec seam with a REAL decoder: deterministic P6 PPM
      // payloads (header + pixel raster) → PpmCodec parse → raster dims +
      // pixel checksum. Proves decoded pixels flow through the seam — the
      // oracle replays the construction arithmetic, the engine replays the
      // actual parse, and the hash gate requires them to agree.
      Multimodal.decodeImages(
        Multimodal.ppmAssetsFromDocuments(
          Tables.load(s, dir, "documents"), "doc_id", "text"),
        graft.multimodal.PpmCodec)
        .select("asset_id", "width", "height", "channels", "px_sum")
    }, oracle =
      // replays ppmAssetsFromDocuments' construction: dims from the text
      // length, px_sum = sum of w*h*3 ASCII codes cycled through the text
      // (pure integer arithmetic — exact in both engines); empty docs are
      // the 1x1 black image
      """SELECT doc_id AS asset_id,
                CAST(1 + length(text) % 16 AS INTEGER) AS width,
                CAST(1 + (length(text) // 16) % 16 AS INTEGER) AS height,
                3 AS channels,
                CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
                  list_reduce(
                    list_transform(
                      range(0, (1 + length(text) % 16) * (1 + (length(text) // 16) % 16) * 3),
                      i -> unicode(text[(i % length(text)) + 1])),
                    (a, b) -> a + b) END AS BIGINT) AS px_sum
         FROM documents"""),
    Query("m_wav_stats", (s, dir) => {
      // the first REAL audio modality: deterministic RIFF/WAVE PCM
      // payloads → WavCodec's direct RIFF chunk walk → amplitude
      // stats + longest silence run. The engine genuinely parses the RIFF
      // chunk structure and PCM frames; the oracle replays the sample
      // construction arithmetic — agreement proves the payload builder,
      // the chunk-walk parse, and the stats pass compose losslessly.
      Multimodal.decodeAudioStats(
        Multimodal.wavAssetsFromDocuments(
          Tables.load(s, dir, "documents"), "doc_id", "text"),
        graft.multimodal.WavCodec)
        .select("asset_id", "sample_rate", "channels", "n_samples",
          "amp_sum", "amp_max", "max_silence_run")
    }, oracle =
      // replays wavAssetsFromDocuments' sample arithmetic: n = 1+len%64
      // samples, amp_i = (unicode(text[i%len+1]) % 64 - 32) * 512 (space
      // → 0 = silence); stats are exact integer sums/maxes and the
      // silence run is the gaps-and-islands max over amp=0 rows
      """WITH s AS (
           SELECT doc_id, i,
                  CASE WHEN length(text) = 0 THEN 0
                       ELSE (unicode(text[(i % length(text)) + 1]) % 64 - 32) * 512
                  END AS amp
           FROM (SELECT doc_id, text, unnest(range(0, 1 + length(text) % 64)) AS i
                 FROM documents)),
         m AS (SELECT doc_id, count(*) AS n, sum(abs(amp)) AS asum,
                      max(abs(amp)) AS amax
               FROM s GROUP BY 1),
         runs AS (SELECT doc_id,
                         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
                  FROM s WHERE amp = 0),
         rmax AS (SELECT doc_id, max(cnt) AS msr
                  FROM (SELECT doc_id, grp, count(*) AS cnt FROM runs GROUP BY 1, 2)
                  GROUP BY 1)
         SELECT m.doc_id AS asset_id, 8000 AS sample_rate, 1 AS channels,
                CAST(n AS INTEGER) AS n_samples,
                CAST(asum AS BIGINT) AS amp_sum,
                CAST(amax AS INTEGER) AS amp_max,
                CAST(coalesce(msr, 0) AS INTEGER) AS max_silence_run
         FROM m LEFT JOIN rmax ON m.doc_id = rmax.doc_id"""),
    Query("m_wav_resample", (s, dir) => {
      // 2× downsampling over REAL decoded PCM — the rate-normalization
      // step a speech pipeline runs before windowing/VAD: consecutive
      // sample pairs average with FLOOR division (floorDiv ≡ DuckDB //
      // on negatives), the odd tail drops, and the resampled clip's
      // amplitude stats gate. The oracle replays the sample construction
      // + pairing arithmetic, so the RIFF chunk-walk parse, the pairing, and
      // the floor-average all hash-gate in one pass. Scan-shaped, no
      // shuffle (the m_wav_stats posture).
      Multimodal.resampleAudioStats(
        Multimodal.wavAssetsFromDocuments(
          Tables.load(s, dir, "documents"), "doc_id", "text"),
        graft.multimodal.WavCodec)
    }, oracle =
      // the m_wav_stats sample replay, paired at k = i//2 (complete pairs
      // only — the odd tail drops), floor-averaged with //, then exact
      // integer stats; docs whose clip has a single sample emit n_out = 0
      """WITH s AS (
           SELECT doc_id, i,
                  CASE WHEN length(text) = 0 THEN 0
                       ELSE (unicode(text[(i % length(text)) + 1]) % 64 - 32) * 512
                  END AS amp
           FROM (SELECT doc_id, text, unnest(range(0, 1 + length(text) % 64)) AS i
                 FROM documents)),
         p AS (SELECT doc_id, i // 2 AS k, CAST(sum(amp) AS BIGINT) AS s2,
                      count(*) AS c
               FROM s GROUP BY 1, 2),
         o AS (SELECT doc_id, CAST(s2 // 2 AS BIGINT) AS amp
               FROM p WHERE c = 2),
         agg AS (SELECT doc_id, count(*) AS n_out, sum(abs(amp)) AS asum,
                        max(abs(amp)) AS amax
                 FROM o GROUP BY 1)
         SELECT d.doc_id AS asset_id, 4000 AS sample_rate,
                CAST(COALESCE(a.n_out, 0) AS INTEGER) AS n_out,
                CAST(COALESCE(a.asum, 0) AS BIGINT) AS amp_sum,
                CAST(COALESCE(a.amax, 0) AS INTEGER) AS amp_max
         FROM documents d LEFT JOIN agg a USING (doc_id)"""),
    Query("m_wav_segments", (s, dir) => {
      // audio SEGMENTATION (the m_shot_detect idea on the audio axis):
      // voice-activity-style maximal non-silent runs over REAL decoded
      // PCM — segment count, longest segment, voiced total, loudest
      // segment energy, all exact integers computed in the decode pass.
      // The segmentation a speech-data pipeline runs before clipping
      // training windows; the oracle replays the sample construction and
      // does the gaps-and-islands grouping in SQL, so the RIFF parse, the
      // run detection, and the per-segment energy argmax all hash-gate.
      Multimodal.decodeAudioSegments(
        Multimodal.wavAssetsFromDocuments(
          Tables.load(s, dir, "documents"), "doc_id", "text"),
        graft.multimodal.WavCodec)
    }, oracle =
      // the m_wav_stats sample replay + gaps-and-islands over NON-zero
      // runs; per-segment energies close with an integer max
      """WITH s AS (
           SELECT doc_id, i,
                  CASE WHEN length(text) = 0 THEN 0
                       ELSE (unicode(text[(i % length(text)) + 1]) % 64 - 32) * 512
                  END AS amp
           FROM (SELECT doc_id, text, unnest(range(0, 1 + length(text) % 64)) AS i
                 FROM documents)),
         nz AS (SELECT doc_id, i, abs(amp) AS a,
                       i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
                FROM s WHERE amp <> 0),
         segs AS (SELECT doc_id, grp, count(*) AS len, sum(a) AS energy
                  FROM nz GROUP BY 1, 2),
         agg AS (SELECT doc_id, count(*) AS n_segments, max(len) AS longest,
                        sum(len) AS voiced, max(energy) AS loudest
                 FROM segs GROUP BY 1)
         SELECT d.doc_id AS asset_id,
                CAST(coalesce(n_segments, 0) AS INTEGER) AS n_segments,
                CAST(coalesce(longest, 0) AS INTEGER) AS longest_segment,
                CAST(coalesce(voiced, 0) AS INTEGER) AS voiced_samples,
                CAST(coalesce(loudest, 0) AS BIGINT) AS loudest_energy
         FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id"""),
    Query("m_wav_neardup", (s, dir) => {
      // audio × dedup crossover (the m_phash idiom on the new modality):
      // REAL decoded PCM (WavCodec) → 62-bit waveform polarity
      // fingerprint → the pigeonhole-complete 4-band join at Hamming ≤ 3,
      // clips of ≥ 32 samples only. The oracle computes ALL-PAIRS
      // distances from the construction arithmetic with no blocking, so
      // the hash gate again proves the banding loses no pair — now for
      // audio fingerprints.
      // the fingerprint frame is localCheckpointed because the banded
      // join references it 8× (4 bands × both sides) and the WAV decode
      // is the expensive stage: uncheckpointed, the plan re-decodes the
      // corpus per reference (measured 6.4 s → ~1 s at sf0.1 back when
      // decode went through javax.sound; still true of any real codec);
      // checkpointed, decode runs once and the join sees 16-byte rows
      Multimodal.phashPairs(
        Multimodal.audioFingerprints(
          Multimodal.wavAssetsFromDocuments(
            Tables.load(s, dir, "documents"), "doc_id", "text"),
          graft.multimodal.WavCodec, minSamples = 32)
          .localCheckpoint(true),
        maxDist = 3)
    }, oracle =
      // fingerprint replayed from the construction arithmetic: bit i
      // (0..61) set iff sample (i mod n) > 0 — the polarity sequence
      // cycled dense across all 62 bits (zero-padding would put every
      // short clip in one all-zero band bucket; see audioFingerprints) —
      // clips with n >= 32 only; then ALL-PAIRS Hamming with no blocking,
      // the completeness check for the engine's banded candidate join
      """WITH f AS (
           SELECT doc_id, 1 + length(text) % 64 AS n,
                  (SELECT CAST(coalesce(sum(
                     CASE WHEN (unicode(text[((i % (1 + length(text) % 64)) % length(text)) + 1]) % 64 - 32) > 0
                          THEN (1::BIGINT << i) ELSE 0 END), 0) AS BIGINT)
                   FROM unnest(range(0, 62)) AS t(i)) AS fp
           FROM documents
           WHERE length(text) > 0 AND 1 + length(text) % 64 >= 32)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS dist
         FROM f a JOIN f b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 3"""),
    Query("m_png_codec", (s, dir) => {
      // the seam with the JDK's REAL compressed-image codec: deterministic
      // rasters → javax.imageio PNG ENCODE (DEFLATE + scanline filtering,
      // executor-side) → ImageIoCodec DECODE (real inflater) → dims +
      // pixel checksum. PNG is lossless, so the oracle replays the raster
      // construction arithmetic (identical to m_codec's — the two queries
      // share the raster formula by design); the hash gate therefore
      // proves the full encode→compress→decode round trip is exact, a
      // strictly stronger claim than m_codec's header-parse proof.
      Multimodal.decodeImages(
        Multimodal.pngAssetsFromDocuments(
          Tables.load(s, dir, "documents"), "doc_id", "text"),
        graft.multimodal.ImageIoCodec)
        .select("asset_id", "width", "height", "channels", "px_sum")
    }, oracle =
      // identical replay SQL to m_codec — the PNG builder constructs the
      // SAME raster, and PNG is lossless, so decoded output must equal the
      // construction arithmetic exactly; any encoder/decoder disagreement
      // (filtering, DEFLATE, color model) breaks the hash
      """SELECT doc_id AS asset_id,
                CAST(1 + length(text) % 16 AS INTEGER) AS width,
                CAST(1 + (length(text) // 16) % 16 AS INTEGER) AS height,
                3 AS channels,
                CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
                  list_reduce(
                    list_transform(
                      range(0, (1 + length(text) % 16) * (1 + (length(text) // 16) % 16) * 3),
                      i -> unicode(text[(i % length(text)) + 1])),
                    (a, b) -> a + b) END AS BIGINT) AS px_sum
         FROM documents"""),
    Query("m_strip_meta", (s, dir) => {
      // metadata scrubbing — the privacy pass a crawled-image pipeline
      // runs before training (EXIF GPS, author records, timestamps):
      // each PNG carries 1 + len%3 injected tEXt chunks (correct CRCs,
      // spliced after IHDR); the operator walks the REAL chunk grammar,
      // drops every ancillary chunk, and re-decodes the scrubbed bytes
      // with the real inflater. The oracle predicts the dropped-chunk
      // count (construction arithmetic) AND the decoded dims + pixel
      // checksum (PNG lossless) — so one hash gate proves the metadata
      // left and the image stream survived byte-exact. Scan-shaped
      // per-partition work, no shuffle.
      Multimodal.stripMetaStats(
        Multimodal.pngAssetsWithText(
          Tables.load(s, dir, "documents"), "doc_id", "text"),
        graft.multimodal.ImageIoCodec)
    }, oracle =
      // the m_png_codec replay plus the injected-chunk count: the strip
      // must remove exactly the 1 + len%3 tEXt records and leave the
      // lossless image stream untouched
      """SELECT doc_id AS asset_id,
                CAST(1 + length(text) % 16 AS INTEGER) AS width,
                CAST(1 + (length(text) // 16) % 16 AS INTEGER) AS height,
                CAST(1 + length(text) % 3 AS INTEGER) AS n_text_dropped,
                CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
                  list_reduce(
                    list_transform(
                      range(0, (1 + length(text) % 16) * (1 + (length(text) // 16) % 16) * 3),
                      i -> unicode(text[(i % length(text)) + 1])),
                    (a, b) -> a + b) END AS BIGINT) AS px_sum
         FROM documents"""),
    Query("m_jpeg_strip", (s, dir) => {
      // the privacy scrub for the LOSSY format (the m_strip_meta twin on
      // JPEG's marker-segment grammar): each JPEG carries 1 + len%3
      // injected EXIF-shaped APP1 segments and len%2 COM segments (where
      // crawled-image GPS/author/timestamp records actually live); the
      // operator walks the real T.81 segment grammar, drops every
      // APP1..APP15/COM, and decodes BOTH payloads with the real DCT
      // codec. JPEG is lossy but STRIPPING is lossless — the entropy-
      // coded stream passes through byte-identical — so px_equal must be
      // true row-for-row while dims and both dropped counts replay from
      // construction arithmetic. Scan-shaped per-partition work, no
      // shuffle (the m_strip_meta 100× posture verbatim).
      Multimodal.jpegStripStats(
        Multimodal.jpegAssetsWithMeta(
          Tables.load(s, dir, "documents"), "doc_id", "text"),
        graft.multimodal.ImageIoCodec)
    }, oracle =
      // dims + both injected-segment counts are construction arithmetic;
      // px_equal = true IS the gate's content — the engine computes it by
      // decoding scrubbed vs original, and any strip that touched the
      // entropy-coded stream (or failed to parse a segment) breaks it
      """SELECT doc_id AS asset_id,
                CAST(1 + length(text) % 16 AS INTEGER) AS width,
                CAST(1 + (length(text) // 16) % 16 AS INTEGER) AS height,
                CAST(1 + length(text) % 3 AS INTEGER) AS n_app1,
                CAST(length(text) % 2 AS INTEGER) AS n_com,
                TRUE AS px_equal
         FROM documents"""),
    Query("m_jpeg_meta", (s, dir) => {
      // REAL lossy decode: the same rasters through the JDK's baseline-DCT
      // JPEG encoder, decoded back by ImageIoCodec. Only the lossless
      // invariants (dims, channel count) are selected — they hash-gate
      // that a genuine JPEG parse ran per asset (a failed or wrong-size
      // decode breaks the hash); pixel fidelity is bounded in CodecSpec,
      // where lossy error belongs (the oracle cannot replay a DCT).
      Multimodal.decodeImages(
        Multimodal.jpegAssetsFromDocuments(
          Tables.load(s, dir, "documents"), "doc_id", "text"),
        graft.multimodal.ImageIoCodec)
        .select("asset_id", "width", "height", "channels")
    }, oracle =
      // only the lossless invariants of the lossy codec: dims and channel
      // count survive DCT quantization and are fully determined by the
      // construction; a failed decode or wrong-size frame breaks the hash
      """SELECT doc_id AS asset_id,
                CAST(1 + length(text) % 16 AS INTEGER) AS width,
                CAST(1 + (length(text) // 16) % 16 AS INTEGER) AS height,
                3 AS channels
         FROM documents"""),
    Query("m_gif_frames", (s, dir) => {
      // REAL multi-frame container: animated GIFs (1 + len%6 frames each,
      // frame f = the raster cycled at phase 7f) written executor-side,
      // then GifCodec walks the GIF89a block structure and LZW-decodes
      // every frame — the frame fan-out is driven by the container's
      // actual frame count. Replaces the m_frames byte-chunk stub with a
      // real video-modality primitive; the oracle replays the per-frame
      // construction arithmetic, so the hash gates frame COUNT, ORDER,
      // dims, and pixel content simultaneously.
      Multimodal.decodeFrameStats(
        Multimodal.gifAssetsFromDocuments(
          Tables.load(s, dir, "documents"), "doc_id", "text"),
        graft.multimodal.GifCodec)
    }, oracle =
      // per-frame replay: nf = 1 + len%6 frames, frame f's flat-index-i
      // gray = code(text[(i + 7f) mod len]); the decoded RGB raster is the
      // gray tripled (palette entry i = rgb(i,i,i)), hence the 3x
      """WITH g AS (
           SELECT doc_id, text, length(text) AS len,
                  1 + length(text) % 16 AS w,
                  1 + (length(text) // 16) % 16 AS h,
                  1 + length(text) % 6 AS nf
           FROM documents),
         fx AS (
           SELECT doc_id, text, len, w, h, unnest(range(0, nf)) AS f
           FROM g)
         SELECT doc_id AS asset_id,
                CAST(f AS INTEGER) AS frame_idx,
                CAST(w AS INTEGER) AS width,
                CAST(h AS INTEGER) AS height,
                CAST(CASE WHEN len = 0 THEN 0 ELSE
                  3 * list_reduce(
                        list_transform(range(0, w * h),
                          i -> unicode(text[CAST((i + 7 * f) % len AS INTEGER) + 1])),
                        (a, b) -> a + b) END AS BIGINT) AS px_sum
         FROM fx"""),
    Query("m_avi_frames", (s, dir) => {
      // REAL video CONTAINER walk (closes the round-8 standing MP4
      // adjudication at its lossless edge): per doc a full RIFF-AVI —
      // hdrl headers + movi LIST of uncompressed 24-bit BI_RGB DIB
      // frames — is written executor-side, then AviCodec walks the RIFF
      // chunk grammar (the WAV parse's grammar, carrying video), reads
      // the strf geometry, and decodes every '00db' frame byte-exactly
      // (bottom-up BGR rows, 4-byte stride padding → top-down RGB). The
      // pixel recipe matches the GIF path, so the construction-replay
      // oracle gates container walk, frame count/order, geometry, and
      // raster content simultaneously. MJPEG '00dc' frames decode via
      // imageio but lossily — exercised in AviCodecSpec, not hash-gated.
      Multimodal.decodeFrameStats(
        Multimodal.aviAssetsFromDocuments(
          Tables.load(s, dir, "documents"), "doc_id", "text"),
        graft.multimodal.AviCodec)
    }, oracle =
      // identical replay to m_gif_frames: the AVI assets carry the same
      // geometry/pixel recipe in DIB frames ((B,G,R) = gray tripled), so
      // the per-frame stats — and this oracle — are shared verbatim
      """WITH g AS (
           SELECT doc_id, text, length(text) AS len,
                  1 + length(text) % 16 AS w,
                  1 + (length(text) // 16) % 16 AS h,
                  1 + length(text) % 6 AS nf
           FROM documents),
         fx AS (
           SELECT doc_id, text, len, w, h, unnest(range(0, nf)) AS f
           FROM g)
         SELECT doc_id AS asset_id,
                CAST(f AS INTEGER) AS frame_idx,
                CAST(w AS INTEGER) AS width,
                CAST(h AS INTEGER) AS height,
                CAST(CASE WHEN len = 0 THEN 0 ELSE
                  3 * list_reduce(
                        list_transform(range(0, w * h),
                          i -> unicode(text[CAST((i + 7 * f) % len AS INTEGER) + 1])),
                        (a, b) -> a + b) END AS BIGINT) AS px_sum
         FROM fx"""),
    Query("m_shot_detect", (s, dir) => {
      // shot-boundary detection over REAL decoded video frames — the
      // classic cheap cut metric (mean absolute per-pixel intensity change
      // between consecutive frames, cut where change ≥ 2 gray levels):
      // the segmentation primitive a video-curation pipeline runs before
      // sampling frames for training. Built ON the real GIF decode path
      // (GifCodec LZW-decodes every frame), then one per-asset lag window
      // over frame-count-sized data — the decode is the cost, the
      // detection is free. Hash-gated per transition: delta AND the cut
      // verdict.
      import org.apache.spark.sql.expressions.Window
      val stats = Multimodal.decodeFrameStats(
        Multimodal.gifAssetsFromDocuments(
          Tables.load(s, dir, "documents"), "doc_id", "text"),
        graft.multimodal.GifCodec)
      val w = Window.partitionBy("asset_id").orderBy("frame_idx")
      stats
        .withColumn("prev_sum", lag(col("px_sum"), 1).over(w))
        .filter(col("prev_sum").isNotNull)
        .withColumn("mean_delta",
          round(abs(col("px_sum") - col("prev_sum")).cast("double")
            / (col("width") * col("height") * 3).cast("double"), 6))
        .select(col("asset_id"), col("frame_idx"), col("mean_delta"),
          (col("mean_delta") >= 2.0).as("is_cut"))
    }, oracle =
      // the m_gif_frames construction replay + the same lag window; the
      // verdict compares the ROUNDED delta in both engines
      """WITH g AS (
           SELECT doc_id, text, length(text) AS len,
                  1 + length(text) % 16 AS w,
                  1 + (length(text) // 16) % 16 AS h,
                  1 + length(text) % 6 AS nf
           FROM documents),
         fx AS (
           SELECT doc_id, text, len, w, h, unnest(range(0, nf)) AS f
           FROM g),
         st AS (
           SELECT doc_id AS asset_id, CAST(f AS INTEGER) AS frame_idx, w, h,
                  CAST(CASE WHEN len = 0 THEN 0 ELSE
                    3 * list_reduce(
                          list_transform(range(0, w * h),
                            i -> unicode(text[CAST((i + 7 * f) % len AS INTEGER) + 1])),
                          (a, b) -> a + b) END AS BIGINT) AS px_sum
           FROM fx),
         d AS (SELECT *, lag(px_sum) OVER (PARTITION BY asset_id
                         ORDER BY frame_idx) AS prev_sum
               FROM st)
         SELECT asset_id, frame_idx,
                round(CAST(abs(px_sum - prev_sum) AS DOUBLE)
                      / (w * h * 3), 6) AS mean_delta,
                round(CAST(abs(px_sum - prev_sum) AS DOUBLE)
                      / (w * h * 3), 6) >= 2.0 AS is_cut
         FROM d WHERE prev_sum IS NOT NULL"""),
    Query("m_video_neardup", (s, dir) => {
      // VIDEO near-dup — the content-ID pipeline shape: real GIF decode
      // (GifCodec LZW, the m_shot_detect path) over a corpus where every
      // 4th doc also ships a RE-ENCODED variant (one gray level of drift
      // on pixel 0 — the m_strip_meta fixture idiom on the video
      // modality) → per-frame 64-bit aHash → the pigeonhole-complete
      // banded join at Hamming ≤ 3 on frame signatures → video pairs
      // where matched frames cover half the smaller video. Frames below
      // the 64-sample grid are excluded (degenerate signatures would weld
      // unrelated videos into one clique — Multimodal.frameHashes). The
      // oracle replays construction, byte-exact aHash over the
      // gray-tripled raster, ALL-PAIRS frame distances (no blocking — so
      // the gate again proves band completeness), and the pair algebra.
      Multimodal.videoNeardupPairs(
        Multimodal.frameHashes(
          Multimodal.gifAssetsWithReencodes(
            Tables.load(s, dir, "documents"), "doc_id", "text"),
          graft.multimodal.GifCodec),
        maxDist = 3)
    }, oracle =
      // replays the GIF construction (the m_gif_frames recipe, plus the
      // re-encode bump on pixel 0 for doc_id ≡ 0 mod 4 variants), the
      // aHash over the gray-TRIPLED decoded raster (N = 3wh bytes; byte m
      // holds gray(m/3), so sample j reads pixel ((j*N)//64)//3 and the
      // mean test v·N ≥ 3·Σgray is pure integer arithmetic), then
      // ALL-PAIRS frame Hamming with no blocking — equality with the
      // engine's banded join proves band completeness at frame level
      """WITH g AS (
           SELECT doc_id, text, length(text) AS len,
                  1 + length(text) % 16 AS w,
                  1 + (length(text) // 16) % 16 AS h,
                  1 + length(text) % 6 AS nf
           FROM documents),
         assets AS (
           SELECT doc_id * 2 AS aid, 0 AS bump, text, len, w, h, nf FROM g
           UNION ALL
           SELECT doc_id * 2 + 1, 1, text, len, w, h, nf FROM g
           WHERE doc_id % 4 = 0),
         fx AS (
           SELECT aid, bump, text, len, w, h, unnest(range(0, nf)) AS f
           FROM assets WHERE w * h >= 64),
         px AS (
           SELECT aid, f, 3 * w * h AS n,
                  list_transform(range(0, w * h), i ->
                    unicode(text[CAST((i + 7 * f) % len AS INTEGER) + 1])
                    + CASE WHEN bump = 1 AND i = 0 THEN 1 ELSE 0 END) AS v
           FROM fx),
         hs AS (
           SELECT aid, f, n, v,
                  3 * list_reduce(v, (a, b) -> a + b) AS s
           FROM px),
         bits AS (
           SELECT aid,
                  list_reduce(list_transform(range(32, 64), j ->
                    CASE WHEN v[CAST((j * n // 64) // 3 AS INTEGER) + 1] * n >= s
                         THEN (CAST(1 AS BIGINT) << CAST(j - 32 AS INTEGER))
                         ELSE CAST(0 AS BIGINT) END), (a, b) -> a + b) AS hi,
                  list_reduce(list_transform(range(0, 32), j ->
                    CASE WHEN v[CAST((j * n // 64) // 3 AS INTEGER) + 1] * n >= s
                         THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
                         ELSE CAST(0 AS BIGINT) END), (a, b) -> a + b) AS lo
           FROM hs),
         nfs AS (SELECT aid, count(*) AS nfr FROM bits GROUP BY 1),
         fp AS (
           SELECT x.aid AS va, y.aid AS vb, count(*) AS matched_frames
           FROM bits x JOIN bits y
             ON x.aid < y.aid
            AND bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) <= 3
           GROUP BY 1, 2)
         SELECT va AS id_a, vb AS id_b, matched_frames,
                na.nfr AS nf_a, nb.nfr AS nf_b
         FROM fp
         JOIN nfs na ON fp.va = na.aid
         JOIN nfs nb ON fp.vb = nb.aid
         WHERE matched_frames * 2 >= least(na.nfr, nb.nfr)"""),
    Query("m_phash", (s, dir) => {
      // multimodal × dedup crossover: REAL decoded rasters (PpmCodec) →
      // 64-bit average-hash → banded near-dup join at Hamming ≤ 3. The
      // oracle computes ALL-PAIRS distances from the construction
      // arithmetic with no blocking, so the hash gate doubles as a proof
      // that the pigeonhole-complete 4-band blocking loses no pair.
      Multimodal.phashPairs(
        Multimodal.imageHashes(
          Multimodal.decodeImages(
            Multimodal.ppmAssetsFromDocuments(
              Tables.load(s, dir, "documents"), "doc_id", "text"),
            graft.multimodal.PpmCodec)),
        maxDist = 3)
    }, oracle =
      // replays the aHash from the construction arithmetic (byte i =
      // ascii of text[(i mod len)+1]; bit j set when sample·npix ≥ Σbytes
      // — pure integer rational compare) and pairs ALL docs with no
      // blocking: equality with the engine's banded join proves the
      // blocking complete at Hamming ≤ 3
      """WITH g AS (
           SELECT doc_id, text, length(text) AS len,
                  (1 + length(text) % 16) *
                  (1 + (length(text) // 16) % 16) * 3 AS npix
           FROM documents),
         s AS (
           SELECT doc_id, npix, len, text,
                  CASE WHEN len = 0 THEN 0 ELSE
                    list_reduce(list_transform(range(0, npix),
                      i -> unicode(text[(CAST(i % len AS BIGINT)) + 1])),
                      (a, b) -> a + b) END AS psum
           FROM g),
         h AS (
           SELECT doc_id,
                  list_reduce(list_transform(range(0, 32), j ->
                    CASE WHEN (CASE WHEN len = 0 THEN 0 ELSE
                        unicode(text[(((j * npix) // 64) % len) + 1]) END)
                        * npix >= psum
                    THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER) ELSE 0 END), (a, b) -> a + b) AS lo,
                  list_reduce(list_transform(range(32, 64), j ->
                    CASE WHEN (CASE WHEN len = 0 THEN 0 ELSE
                        unicode(text[(((j * npix) // 64) % len) + 1]) END)
                        * npix >= psum
                    THEN CAST(1 AS BIGINT) << CAST(j - 32 AS INTEGER) ELSE 0 END), (a, b) -> a + b) AS hi
           FROM s)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.lo, b.lo)) +
                     bit_count(xor(a.hi, b.hi)) AS INTEGER) AS dist
         FROM h a JOIN h b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3"""),
    Query("m_embed_knn", (s, dir) => {
      // full media pipeline shape: payload → stub embedding → exact kNN
      val assets = Multimodal.assetsFromDocuments(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      val embedded = Multimodal.embedStub(assets, dim = 16)
      graft.operators.Similarity.knnBrute(embedded, "asset_id", "embedding",
        queryId = 0L, k = 10)
    }, oracle =
      // replays embedStub (byte-histogram mod 16 → double counts → /norm →
      // float32) then the decimal-exact kNN of v_knn_brute; the float32
      // rounding (CAST AS REAL) and sequential norm sum make the embedding
      // bit-identical to the engine's, so cosines and top-k order agree
      """WITH codes AS (
           SELECT doc_id AS vec_id,
                  list_transform(range(1, length(text) + 1), i -> unicode(text[i])) AS cs
           FROM documents),
         hist AS (
           SELECT vec_id,
                  list_transform(range(0, 16), b ->
                    CAST(len(list_filter(cs, c -> c % 16 = b)) AS DOUBLE)) AS h
           FROM codes),
         emb AS (
           SELECT vec_id,
                  list_transform(h, x -> CAST(x / greatest(
                    sqrt(list_reduce(list_transform(h, v -> v * v), (a, b) -> a + b)),
                    1e-12) AS REAL)) AS embedding
           FROM hist),
         q AS (SELECT embedding AS qe FROM emb WHERE vec_id = 0),
         u AS (SELECT vec_id, unnest(embedding) AS x, unnest(q.qe) AS y FROM emb, q),
         d AS (SELECT vec_id,
                 CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                 CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS norm2
               FROM u GROUP BY 1),
         qn AS (SELECT CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS qnorm2
                FROM (SELECT unnest(qe) AS x FROM q))
         SELECT vec_id, round(dot/greatest(sqrt(norm2)*sqrt(qn.qnorm2), 1e-12), 6) AS cosine
         FROM d, qn WHERE vec_id <> 0
         ORDER BY dot/greatest(sqrt(norm2)*sqrt(qn.qnorm2), 1e-12) DESC, vec_id ASC LIMIT 10""")
  )
}
