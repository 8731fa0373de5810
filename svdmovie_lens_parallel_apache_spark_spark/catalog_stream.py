"""Catalog part 4: Structured Streaming + multimodal queries.

Streaming queries drained with the availableNow trigger in complete mode
are deterministic functions of the (static) source, so they carry EXACT
DuckDB oracles — the oracle states what the stream converges to once the
source is exhausted: a tumbling/sliding window agg equals the batch
``F.window`` agg, session windows are gaps-and-islands SQL, stateful
per-key totals are a plain groupBy. Genuinely engine-internal surfaces
(pandas-UDF media extraction) stay rows-only with pytest gates
(tests/test_multimodal.py); streaming-vs-batch-twin equality is
additionally asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .catalog import _R, _t, register
from .functions.scalar import portable_round as _r
from .operators.multimodal import (
    attach_fake_media,
    attach_synthetic_images,
    decode_image_meta,
    extract_media_features,
    frame_sample,
)

# DuckDB twin of operators.multimodal.synthetic_image_hex: same literals,
# same md5-derived dims, same hex-string concatenation. The parse queries
# below read ONLY the constructed hex (never the dims CTE), so they verify
# the byte arithmetic, not the generator.
_IMG_HEX_CTE = """
  dims AS (
    SELECT doc_id, md5(text) AS mh,
           CAST('0x' || substr(md5(text), 1, 4) AS INTEGER) % 240 + 16 AS w,
           CAST('0x' || substr(md5(text), 5, 4) AS INTEGER) % 240 + 16 AS h,
           CAST('0x' || substr(md5(text), 25, 2) AS INTEGER) % 12 + 1 AS n_com
    FROM documents
  ),
  img AS (
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN
             '89504E470D0A1A0A' || '0000000D49484452' ||
             lpad(upper(to_hex(w)), 8, '0') || lpad(upper(to_hex(h)), 8, '0') ||
             '0806000000' || '00000000' || '0000000049454E44AE426082'
           ELSE
             'FFD8' || 'FFE000104A46494600010100000100010000' || 'FFFE' ||
             lpad(upper(to_hex(n_com + 2)), 4, '0') ||
             upper(substr(mh, 9, n_com * 2)) ||
             'FFC0001108' ||
             lpad(upper(to_hex(h)), 4, '0') || lpad(upper(to_hex(w)), 4, '0') ||
             '03012200021101031101' || 'FFD9'
           END AS hx
    FROM dims
  ),
  walk AS (
    SELECT doc_id, hx, 2 AS off, -1 AS h, -1 AS w, false AS done
    FROM img WHERE substr(hx, 1, 4) = 'FFD8'
    UNION ALL
    SELECT doc_id, hx,
           CASE WHEN marker BETWEEN 65472 AND 65474 THEN off
                ELSE off + 2 + seglen END AS off,
           CASE WHEN marker BETWEEN 65472 AND 65474
                THEN CAST('0x' || substr(hx, (off + 5) * 2 + 1, 4) AS INTEGER)
                ELSE -1 END AS h,
           CASE WHEN marker BETWEEN 65472 AND 65474
                THEN CAST('0x' || substr(hx, (off + 7) * 2 + 1, 4) AS INTEGER)
                ELSE -1 END AS w,
           (marker BETWEEN 65472 AND 65474) AS done
    FROM (
      SELECT doc_id, hx, off,
             CAST('0x' || substr(hx, off * 2 + 1, 4) AS INTEGER) AS marker,
             CAST('0x' || substr(hx, (off + 2) * 2 + 1, 4) AS INTEGER) AS seglen
      FROM walk WHERE NOT done AND off * 2 < length(hx)
    )
  ),
  parsed AS (
    SELECT doc_id, 'png' AS media_format,
           CAST('0x' || substr(hx, 33, 8) AS INTEGER) AS width,
           CAST('0x' || substr(hx, 41, 8) AS INTEGER) AS height,
           CAST(length(hx) // 2 AS INTEGER) AS byte_len, hx
    FROM img WHERE substr(hx, 1, 16) = '89504E470D0A1A0A'
    UNION ALL
    SELECT walk.doc_id, 'jpeg' AS media_format,
           CAST(walk.w AS INTEGER) AS width, CAST(walk.h AS INTEGER) AS height,
           CAST(length(walk.hx) // 2 AS INTEGER) AS byte_len, walk.hx
    FROM walk WHERE done
  )
"""
from .streaming.jobs import (
    stream_session_window,
    stream_tumbling_counts,
    stream_user_totals_stateful,
)


@register(
    "streaming_tumbling_counts",
    f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           count(*)                 AS n_events,
           {_R('sum(value)', 4)}    AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window", "watermark"),
    description="Structured Streaming 1h tumbling window + watermark over the events "
    "file source (availableNow trigger → memory sink). Complete-mode output over an "
    "exhausted static source is deterministic, so the oracle is the batch tumbling "
    "agg itself (same SQL as event_tumbling_agg); twin equality also asserted in "
    "tests/test_streaming.py.",
)
def q_streaming_tumbling(spark, sf_dir):
    return stream_tumbling_counts(spark, sf_dir)


@register(
    "streaming_session_window",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       >= 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts)
                  AS BIGINT) AS sid
      FROM flagged
    )
    SELECT user_id,
           min(CAST(floor(epoch(ts)) AS BIGINT))        AS session_start_s,
           max(CAST(floor(epoch(ts)) AS BIGINT)) + 1800 AS session_end_s,
           count(*)                                     AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
    tags=("streaming", "session", "stateful"),
    description="Native session_window stateful aggregation (30-min gap) on the event "
    "stream. Exact oracle: gaps-and-islands at full microsecond precision — Spark "
    "merges sessions on half-open interval overlap, so a new session starts iff the "
    "gap is >= 30 min (epoch_us keeps the comparison integer-exact; double epoch() "
    "is only quantize-safe after floor), and w.end = last event ts + gap, which "
    "floors to floor(epoch(last_ts)) + 1800 for an integral-second gap. Batch twin: "
    "sessionize (lag+cumsum).",
)
def q_streaming_sessions(spark, sf_dir):
    return stream_session_window(spark, sf_dir)


@register(
    "streaming_stateful_user_totals",
    f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           {_R('sum(value)', 4)}    AS sum_value
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "applyInPandasWithState"),
    description="Custom stateful streaming operator (applyInPandasWithState): per-user "
    "running totals with explicit state across micro-batches. Once the source is "
    "exhausted each user's final emission equals the batch groupBy(count, sum) — the "
    "portable 1e-4 rounding absorbs float-summation-order differences between the "
    "per-micro-batch pandas accumulation and DuckDB's one-shot sum. Twin equality "
    "also asserted in tests/test_streaming.py.",
)
def q_streaming_stateful(spark, sf_dir):
    return stream_user_totals_stateful(spark, sf_dir)


@register(
    "multimodal_features",
    f"""
    WITH RECURSIVE {_IMG_HEX_CTE}
    SELECT doc_id, media_format, width, height, byte_len,
           {_R("CAST(list_sum(list_transform(range(1, length(hx) // 2 + 1),"
               " i -> CAST('0x' || substr(hx, 2 * i - 1, 2) AS INTEGER))) AS DOUBLE)"
               " / (length(hx) // 2)", 6)} AS mean_byte
    FROM parsed
    """,
    tags=("multimodal", "mapInPandas", "binary"),
    description="Opaque-binary media column (REAL PNG/JPEG byte layouts, md5-derived "
    "dims, variable-offset SOF0) + Arrow-batched mapInPandas header decode "
    "(operators/multimodal.py::decode_media — pure struct byte arithmetic, the shape "
    "a PIL/ffmpeg integration plugs into). EXACT oracle: DuckDB rebuilds the same "
    "hex stream, walks the JPEG segment list with a recursive CTE, reads PNG IHDR "
    "at fixed offsets, and means the bytes — byte-identical arithmetic on both "
    "sides. Pixel/audio/video decode remains the documented codec boundary.",
)
def q_multimodal_features(spark, sf_dir):
    media = attach_synthetic_images(_t(spark, sf_dir, "documents"))
    feats = extract_media_features(media.select("doc_id", "media_bytes"))
    return feats.withColumn("mean_byte", _r(F.col("mean_byte"), 6))


@register(
    "multimodal_image_dims",
    f"""
    WITH RECURSIVE {_IMG_HEX_CTE}
    SELECT doc_id, media_format, width, height, byte_len FROM parsed
    """,
    tags=("multimodal", "binary", "jvm"),
    description="JVM-side image-header decode — the 100 TB hot path: format sniff + "
    "PNG IHDR fixed-offset dims + JPEG SOF0 via a bounded segment-walk fold "
    "(F.aggregate with a struct accumulator), all pure column expressions, zero "
    "Python. The JPEG fixture carries a variable-length COM segment so SOF0 sits at "
    "no fixed offset — the fold genuinely walks. Oracle mirrors the walk with a "
    "recursive CTE over the identically constructed hex stream.",
)
def q_multimodal_image_dims(spark, sf_dir):
    media = attach_synthetic_images(_t(spark, sf_dir, "documents"))
    return decode_image_meta(media.select("doc_id", "media_bytes"))


@register(
    "multimodal_frame_sample",
    """
    WITH b AS (
      SELECT doc_id,
             unhex(md5(text)) || unhex(md5(text)) || unhex(md5(text)) || unhex(md5(text))
               AS media_bytes
      FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(range(0, greatest(octet_length(media_bytes) // 16 - 1, 0) + 1),
                                i -> i % 2 = 0)) AS INTEGER) AS n_sampled_frames
    FROM b
    """,
    tags=("multimodal", "binary"),
    description="Frame sampling over the binary media column as pure JVM byte-slicing "
    "(every 2nd 16-byte frame) — no Python in the loop. EXACT oracle: rebuilds the "
    "same blob and replays the frame-index arithmetic (floor(len/16) frames, keep "
    "every 2nd, same n=0 edge semantics).",
)
def q_multimodal_frames(spark, sf_dir):
    media = attach_fake_media(_t(spark, sf_dir, "documents"))
    return frame_sample(media, every_k=2).select("doc_id", "n_sampled_frames")


@register(
    "streaming_sliding_counts",
    """
    WITH s AS (
      -- naive make_timestamp: strftime rendering is TZ-independent (the
      -- to_timestamp TIMESTAMPTZ pattern only matched on UTC-pinned hosts)
      SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * 1000000) AS w0,
             event_type
      FROM events),
    e AS (
      SELECT w0 AS wstart, event_type FROM s
      UNION ALL
      SELECT w0 - INTERVAL 30 MINUTE AS wstart, event_type FROM s)
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events
    FROM e
    GROUP BY 1, 2
    """,
    tags=("streaming", "window", "sliding"),
    description="Hopping-window (1h/30m) streaming aggregation with watermark; "
    "each event lands in two windows held in the state store. Complete-mode "
    "output over the exhausted source is deterministic — oracle is the explicit "
    "2-replica union (same construction as sliding_window_agg, counts only). "
    "Twin equality also asserted in tests/test_streaming.py.",
)
def q_streaming_sliding(spark, sf_dir):
    from .streaming.jobs import stream_sliding_counts

    return stream_sliding_counts(spark, sf_dir)


@register(
    "streaming_click_attribution",
    """
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(c.ts)) AS BIGINT) AS gap_s
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    tags=("streaming", "join", "stream-stream"),
    description="Stream-stream inner join (clicks ⋈ purchases within 1h, both "
    "sides watermarked, event-time range constraint bounds join state). Exact "
    "oracle: append-mode inner joins emit each match exactly once, so the "
    "drained result over the exhausted source equals the batch interval join "
    "(same SQL as click_purchase_attribution); twin equality also asserted in "
    "tests/test_streaming.py.",
)
def q_streaming_click_attribution(spark, sf_dir):
    from .streaming.jobs import stream_click_attribution

    return stream_click_attribution(spark, sf_dir)


@register(
    "streaming_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=("streaming", "dedup", "watermark"),
    description="Streaming exact dedup (dropDuplicatesWithinWatermark) on "
    "(user_id, event_type): watermark-bounded key state — the streaming twin of "
    "exact_dedup_groups. Key-projected output is deterministic, so this streaming "
    "query carries an EXACT oracle (batch DISTINCT).",
)
def q_streaming_dedup(spark, sf_dir):
    from .streaming.jobs import stream_dedup_keys

    return stream_dedup_keys(spark, sf_dir)


@register(
    "streaming_incremental_rollup",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           floor((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)) * 1e3 + 0.5) / 1e3
             AS total_value,
           CAST(max(floor(epoch(ts))) AS BIGINT) AS last_epoch_s
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "incremental", "foreachBatch"),
    description="Streaming materialized-view maintenance: foreachBatch merges "
    "each micro-batch's per-user partial aggregate into a versioned parquet "
    "rollup via the commutative-monoid combine (count add, DECIMAL sum add, "
    "max of maxes) — the MERGE-into-warehouse deploy pattern. DECIMAL "
    "accumulation makes the maintained state EXACTLY equal the one-shot batch "
    "aggregate, so this streaming query carries an exact oracle; the "
    "multi-micro-batch merge path is exercised in tests/test_streaming.py "
    "with a two-file split source.",
)
def q_streaming_incremental_rollup(spark, sf_dir):
    from pyspark.sql import functions as F

    from .functions.scalar import portable_round as _r
    from .session import scratch_dir
    from .streaming.jobs import stream_incremental_rollup

    state = scratch_dir("incr-rollup")
    final = stream_incremental_rollup(
        spark, sf_dir, state, glob="events.parquet", raw_nanos=True
    )
    return final.select(
        "user_id",
        "n_events",
        _r(F.col("tot").cast("double"), 3).alias("total_value"),
        "last_epoch_s",
    )


@register(
    "image_pixel_stats",
    """
    WITH d AS (
      SELECT doc_id, md5(text) AS mh,
             CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) % 16 + 4 AS w,
             CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) % 16 + 4 AS h
      FROM documents
    ), b AS (
      SELECT doc_id, w, h, w * h * 4 AS total,
             list_transform(range(1, 17),
                            i -> CAST('0x' || substr(mh, 2 * i - 1, 2) AS INTEGER))
               AS db
      FROM d
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h AS INTEGER) AS n_pixels,
           floor(CAST(list_sum(db) * (total // 16)
                      + COALESCE(list_sum(db[1 : total % 16]), 0) AS DOUBLE)
                 / total * 1e6 + 0.5) / 1e6 AS mean_pixel
    FROM b
    """,
    tags=("multimodal", "pixels", "codec", "mapInPandas"),
    description="REAL PNG pixel decode, oracle-gated end-to-end (r5): the engine "
    "builds COMPLETE valid PNGs (zlib-compressed IDAT, real chunk CRCs, scanline "
    "filters cycling None/Sub/Up/Average/Paeth) whose RGBA bytes tile the md5(text) "
    "digest, then a second mapInPandas stage decodes them back — stdlib zlib "
    "inflate + NumPy unfilter, no codec library — and reports per-image pixel "
    "statistics. The DuckDB oracle computes the EXPECTED mean in closed form from "
    "the md5 hex and the dims formula, so any corruption across "
    "deflate → inflate → unfilter shifts the mean and fails the hash gate. The "
    "codec boundary narrows to JPEG pixels (DCT+Huffman) / audio / video "
    "(operators/multimodal.py). 100 TB shape: two partition-parallel Arrow-batched "
    "stages, nothing collected.",
)
def q_image_pixel_stats(spark, sf_dir):
    from .operators.multimodal import attach_synthetic_pixel_images, extract_pixel_features

    media = attach_synthetic_pixel_images(_t(spark, sf_dir, "documents"))
    feats = extract_pixel_features(media)
    return feats.withColumn("mean_pixel", _r(F.col("mean_pixel"), 6))


@register(
    "audio_pcm_stats",
    """
    WITH d AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(text), 5, 2) AS INTEGER) AS b2,
             CAST('0x' || substr(md5(text), 7, 2) AS INTEGER) AS b3,
             CAST('0x' || substr(md5(text), 9, 2) AS INTEGER) AS b4
      FROM documents
    ), p AS (
      SELECT doc_id,
             (b2 % 16 + 4) * 16 AS n,
             (b3 % 8 + 1) * 1000 AS amp,
             b4 % 8 + 2 AS half
      FROM d
    )
    SELECT doc_id,
           CAST(n AS INTEGER) AS n_samples,
           CAST(n // 8 AS INTEGER) AS duration_ms,
           floor(CAST(amp AS DOUBLE) * 1e6 + 0.5) / 1e6 AS rms,
           CAST(amp AS INTEGER) AS peak,
           CAST((n - 1) // half AS INTEGER) AS zero_crossings
    FROM p
    """,
    tags=("multimodal", "audio", "codec", "mapInPandas"),
    description="REAL WAV/PCM audio decode, oracle-gated end-to-end (r5): the engine "
    "writes COMPLETE valid WAVs (RIFF chunk stream with fmt, a junk LIST chunk "
    "forcing a real chunk walk, little-endian PCM16 data) carrying an md5-derived "
    "square wave per document, then a second mapInPandas stage decodes the PCM back "
    "— stdlib struct RIFF walk + NumPy frombuffer, no codec library — and reports "
    "RMS / peak / zero-crossing / duration stats. The DuckDB oracle computes every "
    "expected value in closed form from the md5 hex (square wave: rms = peak = amp, "
    "crossings = (n-1)//half), so any endianness, offset or chunk-walk error fails "
    "the hash gate. Audio joins PNG pixels on the REAL side of the codec boundary, "
    "which narrows to JPEG pixels (DCT+Huffman) and video containers "
    "(operators/multimodal.py). 100 TB shape: two partition-parallel Arrow-batched "
    "stages, nothing collected.",
)
def q_audio_pcm_stats(spark, sf_dir):
    from .operators.multimodal import attach_synthetic_audio, extract_audio_features

    media = attach_synthetic_audio(_t(spark, sf_dir, "documents"))
    feats = extract_audio_features(media)
    return feats.withColumn("rms", _r(F.col("rms"), 6))


@register(
    "video_frame_stats",
    """
    WITH p AS (
      SELECT doc_id, text,
             CAST('0x' || substr(md5(text), 11, 2) AS INTEGER) % 4 + 3 AS n,
             CAST('0x' || substr(md5(text), 13, 2) AS INTEGER) % 12 + 4 AS w,
             CAST('0x' || substr(md5(text), 15, 2) AS INTEGER) % 12 + 4 AS h
      FROM documents
    ), fr AS (
      SELECT p.doc_id, p.n, p.w, p.h, p.h * p.w * 3 AS total, s.f,
             list_transform(range(1, 17),
                            i -> CAST('0x' || substr(md5(p.text || '|' || s.f),
                                                     2 * i - 1, 2) AS INTEGER)) AS db
      FROM p CROSS JOIN (SELECT unnest(range(0, 6)) AS f) s
      WHERE s.f < p.n
    ), fsum AS (
      SELECT doc_id, n, w, h, total, f,
             list_sum(db) * (total // 16)
               + COALESCE(list_sum(db[1 : total % 16]), 0) AS s_frame,
             db
      FROM fr
    ), pairs AS (
      SELECT a.doc_id,
             list_sum(list_transform(range(1, 17),
                      i -> abs(a.db[i] - b.db[i])
                           * (a.total // 16
                              + CASE WHEN i <= a.total % 16 THEN 1 ELSE 0 END)))
               AS d_pair
      FROM fsum a JOIN fsum b
        ON a.doc_id = b.doc_id AND b.f = a.f + 1
    ), agg AS (
      SELECT f.doc_id,
             any_value(f.n) AS n, any_value(f.w) AS w, any_value(f.h) AS h,
             any_value(f.total) AS total,
             SUM(f.s_frame) AS s_all,
             MAX(CASE WHEN f.f = 0 THEN f.db[1] END) AS tlr
      FROM fsum f GROUP BY f.doc_id
    ), mo AS (
      SELECT doc_id, SUM(d_pair) AS d_all FROM pairs GROUP BY doc_id
    )
    SELECT agg.doc_id,
           CAST(agg.n AS INTEGER) AS n_frames,
           CAST(agg.w AS INTEGER) AS width,
           CAST(agg.h AS INTEGER) AS height,
           floor(CAST(agg.s_all AS DOUBLE) / (agg.n * agg.total) * 1e6 + 0.5) / 1e6
             AS mean_brightness,
           floor(CAST(mo.d_all AS DOUBLE) / ((agg.n - 1) * agg.total) * 1e6 + 0.5) / 1e6
             AS motion,
           CAST(agg.tlr AS INTEGER) AS top_left_r
    FROM agg JOIN mo ON agg.doc_id = mo.doc_id
    """,
    tags=("multimodal", "video", "codec", "mapInPandas"),
    description="REAL video decode for the uncompressed profile, oracle-gated "
    "end-to-end (r5): the engine writes COMPLETE valid AVIs (RIFF with nested "
    "hdrl/strl/movi LISTs, idx1 index, per-frame 00db chunks storing 24-bit DIB "
    "pixels BGR bottom-up with 4-byte row stride) whose decoded-space RGB frames "
    "tile per-frame md5(text|f) digests, then a second mapInPandas stage decodes "
    "them back — stdlib struct container walk + NumPy stride unpad / row flip / "
    "channel reorder — and reports frame count, dims, mean brightness, inter-frame "
    "motion and the frame-0 top-left red channel (the position-sensitive probe a "
    "missed flip or BGR swap cannot survive). The DuckDB oracle computes every "
    "value in closed form from md5 hex with exact integer sums divided once, so "
    "the float compare holds at atol=0. The codec boundary is now compressed "
    "formats only: JPEG pixels, ADPCM/MP3 audio, MJPEG/H.264 video "
    "(operators/multimodal.py). 100 TB shape: two partition-parallel Arrow-batched "
    "stages, nothing collected.",
)
def q_video_frame_stats(spark, sf_dir):
    from .operators.multimodal import attach_synthetic_video, extract_video_features

    media = attach_synthetic_video(_t(spark, sf_dir, "documents"))
    feats = extract_video_features(media)
    return feats.withColumn("mean_brightness", _r(F.col("mean_brightness"), 6)).withColumn(
        "motion", _r(F.col("motion"), 6)
    )


@register(
    "jpeg_roundtrip_stats",
    """
    WITH d AS (
      SELECT doc_id, md5(text) AS mh,
             CAST('0x' || substr(md5(text), 17, 2) AS INTEGER) % 16 + 4 AS w,
             CAST('0x' || substr(md5(text), 19, 2) AS INTEGER) % 16 + 4 AS h
      FROM documents
    ), b AS (
      SELECT doc_id, w, h, w * h AS total,
             list_transform(range(1, 17),
                            i -> CAST('0x' || substr(mh, 2 * i - 1, 2) AS INTEGER))
               AS db
      FROM d
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           floor(CAST(list_sum(db) * (total // 16)
                      + COALESCE(list_sum(db[1 : total % 16]), 0) AS DOUBLE)
                 / total * 1e6 + 0.5) / 1e6 AS mean_src_pixel,
           TRUE AS roundtrip_ok
    FROM b
    """,
    tags=("multimodal", "jpeg", "codec", "mapInPandas"),
    description="REAL baseline JPEG codec, gate-oracled end-to-end (r5): the engine "
    "encodes md5-tiled grayscale images as spec-shaped baseline JFIF — real 8x8 DCT, "
    "quantization, canonical-Huffman entropy coding with byte stuffing "
    "(operators/jpegcodec.py) — then a second mapInPandas stage decodes them back "
    "(segment walk, Huffman tables read FROM the DHT segment, entropy decode with DC "
    "prediction, dezigzag, dequant, IDCT) and gates the per-doc error envelope: "
    "quant=1 makes the round trip near-lossless (measured max |diff| = 1; analytic "
    "bound from coefficient rounding through an orthonormal IDCT; pinned at <= 2). "
    "The oracle checks dims + closed-form source mean exactly and pins roundtrip_ok "
    "TRUE for every document — any Huffman/zigzag/DCT defect explodes the envelope "
    "and flips the booleans. The entropy coder is independently anchored by a "
    "handcrafted-bitstream byte-equality test (tests/test_multimodal.py), so an "
    "encoder/decoder bug pair cannot cancel. JPEG leaves the codec boundary; what "
    "remains is progressive/subsampled JPEG profiles and inter-frame video codecs.",
)
def q_jpeg_roundtrip_stats(spark, sf_dir):
    from .operators.multimodal import attach_synthetic_jpeg, jpeg_roundtrip_features

    media = attach_synthetic_jpeg(_t(spark, sf_dir, "documents"))
    feats = jpeg_roundtrip_features(media)
    return feats.withColumn("mean_src_pixel", _r(F.col("mean_src_pixel"), 6))
