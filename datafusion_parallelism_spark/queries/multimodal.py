"""Multimodal corpus: opaque binary assets + Pandas-UDF decode pipeline.

``mm_assets_summary`` proves the JVM-side asset construction (binary
payload + typed metadata) bit-for-bit against DuckDB (md5 of the payload
blob is part of the compared result).

Every decode query runs REAL container bytes through REAL parsers
(RIFF/WAVE via the stdlib ``wave`` codec, 8-bit BMP and the VID0
concatenated-frames container via the built-in parsers in
operators/multimodal.py) and hash-matches a DuckDB oracle that
regenerates the synthetic signal from first principles — an encode or
decode bug (byte order, row padding, header arithmetic) breaks the
match.  The synthetic signals are engineered for EXACT float parity
(integer-valued sums + explicit sqrt(E[x^2]-E[x]^2) std on both sides),
so no tolerance is needed anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    build_assets,
    build_bmp_assets,
    build_saw_wav_assets,
    build_video_assets,
    real_asset_features,
    resize_images,
)
from .llm import _docs_spread
from .registry import query


_N_BYTES_SQL = """
    CASE WHEN doc_id % 3 = 0 THEN (32 + doc_id % 32) * (32 + doc_id % 16)
         WHEN doc_id % 3 = 1 THEN 1000 + (doc_id % 9) * 500
         ELSE 16 * 16 * (8 + doc_id % 9) END
"""


@query(
    "mm_assets_summary",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, text,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             CAST({_N_BYTES_SQL} AS INT) AS n_bytes
      FROM documents
    ),
    assets AS (
      SELECT doc_id, modality, n_bytes,
             from_hex(substr(repeat(md5(text), CAST(ceil(n_bytes * 2 / 32.0) AS INT)),
                             1, n_bytes * 2)) AS payload
      FROM sized
    )
    SELECT modality,
           COUNT(*) AS n_assets,
           SUM(octet_length(payload)) AS total_bytes,
           SUM(n_bytes) AS total_meta_bytes,
           COUNT(DISTINCT md5(lower(hex(payload)))) AS distinct_payloads,
           MIN(md5(lower(hex(payload)))) AS min_payload_md5
    FROM assets
    GROUP BY modality
    """,
)
def mm_assets_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset-table plumbing check: payload byte length must equal the typed
    metadata on every row, and the payload BYTES themselves hash-match the
    oracle's independently-constructed blobs.  All JVM-side (no UDF)."""
    assets = build_assets(_docs_spread(spark, sf_dir))
    return assets.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.sum(F.col("meta.n_bytes")).alias("total_meta_bytes"),
        F.countDistinct(F.md5(F.lower(F.hex("payload")))).alias("distinct_payloads"),
        F.min(F.md5(F.lower(F.hex("payload")))).alias("min_payload_md5"),
    )


#: Shared oracle fragment: the decoded value stream of every REAL-codec
#: asset, regenerated from first principles (pixel/sample formulas are
#: pure doc_id arithmetic).  image = BMP gradient card, audio = WAV
#: sawtooth (period divides every buffer length, so mean is exactly 0),
#: video = VID0 16x16 frame stack.
_REAL_VALUES_SQL = """
    WITH img_px AS (
      SELECT doc_id, CAST((xx.x * 7 + yy.y * 13 + doc_id) % 256 AS DOUBLE) AS v
      FROM (SELECT doc_id, 8 + doc_id % 8 AS w, 8 + doc_id % 4 AS h
            FROM documents WHERE doc_id % 3 = 0) i,
           UNNEST(range(0, h)) AS yy(y), UNNEST(range(0, w)) AS xx(x)
    ),
    aud_px AS (
      SELECT doc_id, CAST(2 * (i.i % p) - (p - 1) AS DOUBLE) AS v
      FROM (SELECT doc_id,
                   CASE doc_id % 3 WHEN 0 THEN 20 WHEN 1 THEN 50 ELSE 100 END AS p,
                   1000 + (doc_id % 9) * 500 AS n
            FROM documents WHERE doc_id % 3 = 1) a,
           UNNEST(range(0, n)) AS i(i)
    ),
    vid_px AS (
      SELECT doc_id,
             CAST((xx.x * 7 + yy.y * 13 + ff.f * 29 + doc_id) % 256 AS DOUBLE) AS v
      FROM (SELECT doc_id, 8 + doc_id % 9 AS n FROM documents WHERE doc_id % 3 = 2) vv,
           UNNEST(range(0, n)) AS ff(f),
           UNNEST(range(0, 16)) AS yy(y), UNNEST(range(0, 16)) AS xx(x)
    ),
    allpx AS (
      SELECT doc_id, 'image' AS modality, v FROM img_px
      UNION ALL SELECT doc_id, 'audio' AS modality, v FROM aud_px
      UNION ALL SELECT doc_id, 'video' AS modality, v FROM vid_px
    )
"""

_HIST_BINS_SQL = ", ".join(
    "CAST(SUM(CASE WHEN v >= {lo} AND v < {hi} THEN 1 ELSE 0 END) AS DOUBLE)"
    " / COUNT(*)".format(lo=b * 32, hi=(b + 1) * 32)
    for b in range(8)
)


@query(
    "mm_image_features",
    oracle=_REAL_VALUES_SQL
    + f"""
    SELECT doc_id, modality, CAST(COUNT(*) AS INT) AS n_values,
           list_value(
             avg(v),
             sqrt(avg(v * v) - avg(v) * avg(v)),
             min(v), max(v), median(v),
             {_HIST_BINS_SQL}
           ) AS features
    FROM allpx GROUP BY doc_id, modality
    """,
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract over every asset via Arrow-batched
    mapInPandas (13-dim vector: 5 moments + 8-bin histogram fractions) —
    REAL containers in (BMP / RIFF-WAVE / VID0), REAL parsers in the loop
    (decode_payload_real).

    FULL ORACLE (migrated from rows-only in r4): the synthetic signals
    are pure doc_id arithmetic, so DuckDB regenerates every decoded value
    with UNNEST(range(...)) and recomputes the 13 features.  Float parity
    is exact by construction: every reduction is an integer sum, std is
    the explicit sqrt(E[x^2]-E[x]^2) on both sides, and histogram
    fractions are the identical int/int division."""
    docs = _docs_spread(spark, sf_dir)
    assets = (
        build_bmp_assets(docs)
        .withColumn("modality", F.lit("image"))
        .unionByName(build_saw_wav_assets(docs).withColumn("modality", F.lit("audio")))
        .unionByName(build_video_assets(docs).withColumn("modality", F.lit("video")))
    )
    return real_asset_features(assets)


@query(
    "mm_resize_images",
    oracle="""
    WITH imgs AS (
      SELECT doc_id, 32 + doc_id % 32 AS w, 32 + doc_id % 16 AS h, text
      FROM documents WHERE doc_id % 3 = 0
    ),
    hexed AS (
      SELECT doc_id, w, h,
             substr(repeat(md5(text), CAST(ceil(w*h*2/32.0) AS INT)), 1, w*h*2) AS hx
      FROM imgs
    ),
    px AS (
      SELECT doc_id, w, h, hx,
             ((yy.j * h) // 16) * w + ((xx.i * w) // 16) AS p
      FROM hexed, UNNEST(range(0, 16)) AS xx(i), UNNEST(range(0, 16)) AS yy(j)
    ),
    vals AS (
      SELECT doc_id, w, h,
             (strpos('0123456789abcdef', substr(hx, CAST(2*p+1 AS INT), 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(hx, CAST(2*p+2 AS INT), 1)) - 1) AS v
      FROM px
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(16 AS INT) AS out_width,
           CAST(16 AS INT) AS out_height,
           CAST(SUM(v) AS BIGINT) AS checksum
    FROM vals GROUP BY doc_id, w, h
    """,
)
def mm_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor 16x16 resize of image assets (numpy indexing in
    mapInPandas); emits new dims + pixel checksum.

    FULL ORACLE: the fake-decode buffer is md5-hex-derived, so DuckDB
    reconstructs every sampled pixel byte from the SAME md5 hex string
    (strpos-based hex-pair decode) at the SAME nearest-neighbor indices
    ((j*h)//16 * w + (i*w)//16) and must reproduce the integer checksum
    exactly — pinning the decode byte order, the reshape(h, w) row-major
    layout, and the resize index arithmetic."""
    assets = build_assets(_docs_spread(spark, sf_dir))
    return resize_images(assets)


@query(
    "mm_frame_sample",
    oracle="""
    WITH vids AS (
      SELECT doc_id, 8 + doc_id % 9 AS n FROM documents WHERE doc_id % 3 = 2
    ),
    px AS (
      SELECT doc_id, ff.f AS frame_idx,
             CAST((xx.x * 7 + yy.y * 13 + ff.f * 29 + doc_id) % 256 AS DOUBLE) AS v
      FROM vids, UNNEST(range(0, n)) AS ff(f),
           UNNEST(range(0, 16)) AS yy(y), UNNEST(range(0, 16)) AS xx(x)
      WHERE ff.f % 2 = 0
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           avg(v) AS frame_mean,
           sqrt(avg(v * v) - avg(v) * avg(v)) AS frame_std
    FROM px GROUP BY doc_id, frame_idx
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-2nd-frame sampling of video assets — REAL VID0 containers
    decoded by a real parser (header magic/dims/length validation), one
    output row per kept frame with per-frame mean + std.

    FULL ORACLE (migrated from rows-only in r4): frames are 16x16, so
    both avg divisions are exact (/256) and std uses the explicit
    sqrt(E[x^2]-E[x]^2) form on both sides — bit-identical doubles."""
    from ..operators.multimodal import build_video_assets, video_frame_sample

    docs = _docs_spread(spark, sf_dir)
    return video_frame_sample(build_video_assets(docs))


@query(
    "mm_audio_features",
    oracle="""
    WITH audio AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 20 WHEN 1 THEN 50 ELSE 100 END AS p,
             1000 + (doc_id % 9) * 500 AS n
      FROM documents WHERE doc_id % 3 = 1
    ),
    samples AS (
      SELECT doc_id, i.i AS i, CAST(i.i // 256 AS INT) AS window_idx,
             CAST(2 * (i.i % p) - (p - 1) AS DOUBLE) AS v
      FROM audio, UNNEST(range(0, 256 * (n // 256))) AS i(i)
    ),
    lagged AS (
      SELECT doc_id, window_idx, v,
             lag(v) OVER (PARTITION BY doc_id, window_idx ORDER BY i) AS pv
      FROM samples
    )
    SELECT doc_id, window_idx,
           sqrt(avg(v * v)) AS rms,
           CAST(SUM(CASE WHEN pv IS NOT NULL AND (pv < 0) <> (v < 0)
                         THEN 1 ELSE 0 END) AS INT) AS zero_crossings
    FROM lagged GROUP BY doc_id, window_idx
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed RMS + zero-crossing analysis of audio assets (256-sample
    windows, row-expanding mapInPandas) — REAL RIFF/WAVE containers of a
    sawtooth signal, decoded by the stdlib ``wave`` codec.

    FULL ORACLE (migrated from rows-only in r4): the sawtooth period
    divides every buffer length, so the whole-buffer mean is exactly 0
    and the mean-centered window IS the integer signal — rms is
    sqrt(avg of exact integer squares) on both sides (bit-identical) and
    samples are odd (never zero), so zero-crossing sign semantics cannot
    diverge.  The oracle's lag() reproduces the within-window
    signbit(w[:-1]) != signbit(w[1:]) pairing exactly."""
    from ..operators.multimodal import build_saw_wav_assets, wav_window_features

    docs = _docs_spread(spark, sf_dir)
    return wav_window_features(build_saw_wav_assets(docs))


# --------------------------------------------------------------------------
# Real-codec queries: the payloads are REAL WAV / BMP containers and the
# decode stage runs a REAL parser (stdlib `wave`; built-in BMP container
# parser with PIL as the optional fast path).  The synthetic signal is pure
# doc_id arithmetic, so DuckDB regenerates the expected analysis output
# from first principles (UNNEST(range(...))) -- an encode or decode bug
# (byte order, row padding, header arithmetic) breaks the hash match.
# --------------------------------------------------------------------------
@query(
    "mm_audio_wav_features",
    oracle="""
    WITH audio AS (
      SELECT doc_id,
             4 * CAST(power(2, doc_id % 4) AS BIGINT) AS half_p,
             1000 + 100 * (doc_id % 5) AS amp,
             256 * (4 + doc_id % 9) AS n_samples
      FROM documents WHERE doc_id % 3 = 1
    )
    SELECT doc_id,
           CAST(w.window_idx AS INT) AS window_idx,
           CAST(amp AS DOUBLE) AS rms,
           CAST(256 // half_p - 1 AS INT) AS zero_crossings
    FROM audio, UNNEST(range(0, n_samples // 256)) AS w(window_idx)
    """,
)
def mm_audio_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio docs -> synthesize square wave -> encode REAL RIFF/WAVE bytes
    -> decode via the stdlib ``wave`` codec -> per-window RMS + zero
    crossings.  The signal is built so the analysis has a closed form the
    oracle computes independently: period divides the 256-sample window,
    buffer length is a multiple of 256, so every window's RMS is exactly
    the amplitude and crossings are 256/half_period - 1."""
    from ..operators.multimodal import build_wav_assets, wav_window_features

    docs = _docs_spread(spark, sf_dir)
    return wav_window_features(build_wav_assets(docs))


@query(
    "mm_image_bmp_stats",
    oracle="""
    WITH imgs AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 8 + doc_id % 4 AS h
      FROM documents WHERE doc_id % 3 = 0
    ),
    px AS (
      SELECT doc_id, w, h, (xx.x * 7 + yy.y * 13 + doc_id) % 256 AS v
      FROM imgs, UNNEST(range(0, w)) AS xx(x), UNNEST(range(0, h)) AS yy(y)
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(MIN(v) AS INT) AS px_min,
           CAST(MAX(v) AS INT) AS px_max,
           CAST(SUM(v) AS DOUBLE) / (w * h) AS px_mean
    FROM px GROUP BY doc_id, w, h
    """,
)
def mm_image_bmp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image docs -> synthesize gradient test card -> encode REAL 8-bit
    BMP bytes (palette, bottom-up rows, 4-byte row padding) -> decode via
    a real BMP container parse -> per-image pixel stats.  px_mean is the
    exact IEEE division SUM/count on both sides (no rounding needed)."""
    from ..operators.multimodal import build_bmp_assets, bmp_pixel_stats

    docs = _docs_spread(spark, sf_dir)
    return bmp_pixel_stats(build_bmp_assets(docs))
