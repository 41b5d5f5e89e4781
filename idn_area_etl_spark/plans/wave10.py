"""Tenth wave: multimodal plumbing depth + the vectorized-UDF path.

- **Binary windowing** (`operators/multimodal.py:chunk_binary`): sliding
  byte windows over binary payloads (audio hops / shard splits) as a
  pure native expression — sequence-with-stride + binary substring,
  whole-stage codegen end to end.  The oracle uses VARCHAR substring:
  for ASCII payloads char offsets equal byte offsets, and DuckDB md5
  hashes the same bytes.
- **Codec round-trip** (`mm_codec_roundtrip`): REAL pure-stdlib
  codecs — every document's UTF-8 bytes are encoded as a PCM WAV and
  a 24 bpp BMP (struct writers, `functions/codecs.py`), decoded back
  with the independent chunk-walking parsers inside the Arrow
  ``mapInPandas`` decode stage, and PCM frames sampled with the real
  sampler; all header fields + frame counts are oracle-pinned
  algebraically from `octet_length(text)`.
- **Frame sampling** (`operators/multimodal.py:frame_sample`): 1→N
  Arrow-batched expansion running the real WAV codec over encoded
  document audio — oracle-checked since r4: frame geometry
  (count / frame_no / ts_ms) is pinned algebraically by DuckDB, and
  the MD5 digests are cross-checked in-plan against Spark's native
  ``md5(substring())`` of the same canonical-WAV byte windows
  (`digest_ok` all-TRUE in the oracle); window digests additionally
  pinned against local slices in pytest.
- **NFC normalization** (`operators/text.py:nfc_normalize_udf`): the
  deliberate pandas_udf showcase (no native Spark expression exists);
  oracle = DuckDB ``nfc_normalize`` (both sides implement UAX#15 —
  trivially equal on the ASCII corpus; planted non-NFC fixtures in
  pytest prove the real behavior).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from collections.abc import Iterator

import pandas as pd

from idn_area_etl_spark.operators.multimodal import (
    chunk_binary,
    decode_payloads,
    frame_sample,
)
from idn_area_etl_spark.operators.text import nfc_normalize_udf
from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


def _blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )


def mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-byte windows at stride 16 over the first 50 payloads."""
    blobs = _blobs(spark, sf_dir).filter(F.col("doc_id") < 50)
    return chunk_binary(blobs, chunk=32, stride=16).orderBy(
        "doc_id", "chunk_no"
    )


MM_AUDIO_WINDOWS_SQL = """
WITH offs AS (
  SELECT doc_id, text,
    unnest(generate_series(1, greatest(1, length(text) - 31), 16)) AS off
  FROM documents
  WHERE doc_id < 50
)
SELECT doc_id,
  CAST((off - 1) / 16 + 1 AS INT) AS chunk_no,
  CAST(off AS INT) AS offset,
  CAST(length(substring(text, off, 32)) AS INT) AS chunk_len,
  md5(substring(text, off, 32)) AS chunk_md5
FROM offs
ORDER BY doc_id, chunk_no
"""


WAV_BASE_RATE = 8000  # per-doc rate = 8000 + (doc_id % 3) * 4000
BMP_WIDTH = 16


def _encode_docs_as_media(docs: DataFrame) -> DataFrame:
    """Arrow-batched encode stage: each document's UTF-8 bytes become
    a real PCM WAV (16-bit mono, deterministic per-doc sample rate)
    and a real 24 bpp BMP (16-px-wide raster, zero-padded final row)
    via the stdlib codecs — the writer half of the decode round-trip.
    """

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from idn_area_etl_spark.functions.codecs import encode_bmp, encode_wav

        for pdf in batches:
            wavs, bmps = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                pcm = raw[: len(raw) - (len(raw) % 2)]
                rate = WAV_BASE_RATE + (int(doc_id) % 3) * 4000
                wavs.append(encode_wav(pcm, rate))
                h = max(1, -(-len(raw) // (BMP_WIDTH * 3)))
                bmps.append(
                    encode_bmp(
                        BMP_WIDTH, h, raw.ljust(BMP_WIDTH * h * 3, b"\x00")
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "wav": wavs,
                    "bmp": bmps,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        encode, schema="doc_id long, wav binary, bmp binary"
    )


def mm_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec round-trip, oracle-pinned: encode every document as
    WAV + BMP (stdlib struct writers), decode both with the
    independent chunk-walking parsers via the Arrow ``mapInPandas``
    decode stage, sample PCM frames with the real frame sampler, and
    emit per-doc header fields the DuckDB oracle recomputes
    algebraically from the text's UTF-8 byte length alone."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # r9-opt (guide §2.4): media feeds the WAV decode, BMP decode and
    # frame-sample legs; unstaged, the Arrow encode stage re-ran per
    # consumer (2 duplicate scans).  Bounded: 200 docs.
    media = _stage(_encode_docs_as_media(docs))
    wav_meta = decode_payloads(
        media.select("doc_id", F.col("wav").alias("payload"))
    ).select(
        "doc_id",
        F.col("n_bytes").alias("wav_bytes"),
        "sample_rate",
        F.col("n_frames").alias("n_pcm_samples"),
        "bits_per_sample",
        F.col("decode_error").isNull().alias("wav_ok"),
    )
    bmp_meta = decode_payloads(
        media.select("doc_id", F.col("bmp").alias("payload"))
    ).select(
        "doc_id",
        F.col("n_bytes").alias("bmp_bytes"),
        "width",
        "height",
        F.col("decode_error").isNull().alias("bmp_ok"),
    )
    sampled = (
        frame_sample(
            media.select("doc_id", F.col("wav").alias("payload")),
            n_samples=4,
            window_ms=40,
        )
        .groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("n_wav_frames"))
    )
    return wav_meta.join(bmp_meta, "doc_id").join(sampled, "doc_id")


MM_CODEC_ROUNDTRIP_SQL = f"""
WITH sized AS (
  SELECT doc_id,
    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb
  FROM documents WHERE doc_id < 200
), derived AS (
  SELECT doc_id, nb,
    nb - (nb % 2) AS pcm_len,
    CAST({WAV_BASE_RATE} + (doc_id % 3) * 4000 AS INT) AS sample_rate,
    GREATEST(1, CAST(CEIL(nb / CAST({BMP_WIDTH} * 3 AS DOUBLE)) AS BIGINT))
      AS height
  FROM sized
)
SELECT doc_id,
  44 + pcm_len AS wav_bytes,
  sample_rate,
  CAST(pcm_len / 2 AS INT) AS n_pcm_samples,
  CAST(16 AS INT) AS bits_per_sample,
  TRUE AS wav_ok,
  54 + height * {BMP_WIDTH * 3} AS bmp_bytes,
  CAST({BMP_WIDTH} AS INT) AS width,
  CAST(height AS INT) AS height,
  TRUE AS bmp_ok,
  CAST(LEAST(4, GREATEST(1,
    FLOOR((pcm_len / 2) / ((sample_rate * 40) / 1000)))) AS INT)
    AS n_wav_frames
FROM derived ORDER BY doc_id
"""


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV frame sampling over encoded document audio, made
    oracle-checkable (was rows-only until r4): frame geometry
    (count / frame_no / ts_ms) is algebraic in the document's UTF-8
    byte length and the per-doc sample rate, so DuckDB pins it
    exactly; the MD5 digests (not SQL-expressible — DuckDB lacks
    blob md5) are instead cross-checked IN the plan against a second,
    independent implementation — Spark's native ``md5(substring())``
    over the same canonical-WAV byte windows (PCM starts at byte 45:
    12-byte RIFF + 24-byte fmt + 8-byte data header) — and reported
    as a ``digest_ok`` column the oracle expects to be all-TRUE.  A
    regression in the Pandas-UDF codec path (window offsets, header
    parsing, digesting) flips digest_ok or moves ts_ms and fails the
    hash check."""
    # r9-opt (guide §2.4): the bounded 50-doc base feeds the encode
    # stage and the native length recomputation, and the encoded WAV
    # feeds both the sampler and the digest join; unstaged, the scan
    # and the Arrow encode re-ran per consumer (2 duplicate scans).
    docs = _stage(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "text")
    )
    media = _encode_docs_as_media(docs)
    wav = _stage(media.select("doc_id", F.col("wav").alias("payload")))
    frames = frame_sample(wav, n_samples=4, window_ms=5)

    # native recomputation of each frame's byte window (mirrors
    # operators/multimodal.frame_sample's WAV arithmetic, ba=2)
    lens = docs.select(
        "doc_id",
        F.octet_length(F.encode("text", "utf-8")).alias("_nbytes"),
    )
    j = frames.join(wav, "doc_id").join(lens, "doc_id")
    rate = (F.lit(8000) + (F.col("doc_id") % 3) * F.lit(4000)).cast("long")
    win = F.floor(rate * 5 / 1000).cast("long") * 2
    l2 = (F.col("_nbytes") - F.col("_nbytes") % 2).cast("long")
    n_avail = F.greatest(F.lit(1).cast("long"), F.floor(l2 / win))
    kf = F.least(F.lit(4).cast("long"), n_avail)
    off = F.floor(F.col("frame_no") * n_avail / kf) * win
    native_md5 = F.md5(
        F.col("payload").substr(
            (off + 45).cast("int"), win.cast("int")
        )
    )
    return (
        j.select(
            "doc_id",
            "frame_no",
            "ts_ms",
            (F.col("frame_md5") == native_md5).alias("digest_ok"),
        )
        .orderBy("doc_id", "frame_no")
    )


MM_FRAME_SAMPLE_SQL = """
WITH base AS (
  SELECT doc_id,
    octet_length(encode(text)) - octet_length(encode(text)) % 2 AS l2,
    8000 + (doc_id % 3) * 4000 AS rate
  FROM documents WHERE doc_id < 50
),
geom AS (
  SELECT doc_id, rate, l2, (rate * 5 // 1000) * 2 AS win FROM base
),
kk AS (
  SELECT doc_id, rate, win,
    GREATEST(1, l2 // win) AS n_avail,
    LEAST(4, GREATEST(1, l2 // win)) AS k
  FROM geom
)
SELECT doc_id,
  CAST(j AS INT) AS frame_no,
  CAST((((j * n_avail // k) * win // 2) * 1000) // rate AS BIGINT) AS ts_ms,
  TRUE AS digest_ok
FROM kk, generate_series(0, 3) AS t(j)
WHERE j < k
ORDER BY doc_id, frame_no
"""


def d_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nfc = nfc_normalize_udf()
    normed = nfc(F.col("text"))
    return docs.select(
        "doc_id",
        F.length(normed).alias("n_chars_nfc"),
        (normed != F.col("text")).alias("changed"),
    )


D_UNICODE_NFC_SQL = """
SELECT doc_id,
  CAST(length(nfc_normalize(text)) AS INT) AS n_chars_nfc,
  nfc_normalize(text) <> text AS changed
FROM documents
ORDER BY doc_id
"""


def q_calendar_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order calendar: exercises the date-function breadth
    (date_trunc / quarter / dayofweek / last_day / datediff) in one
    map-side-combinable aggregation.  Weekend test uses Spark's
    1=Sunday convention (the oracle shifts DuckDB's 0=Sunday)."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return (
        orders.groupBy(
            F.date_trunc("month", d).alias("month_start"),
            F.quarter(d).alias("qtr"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.when(F.dayofweek(d).isin(1, 7), 1).otherwise(0)
            ).cast("long").alias("weekend_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("revenue"),
            F.datediff(F.max(d), F.min(d)).alias("days_span"),
        )
        .withColumn(
            "month_days", F.dayofmonth(F.last_day(F.col("month_start")))
        )
        .orderBy("month_start")
    )


Q_CALENDAR_SQL = """
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
  CAST(quarter(o_orderdate) AS INT) AS qtr,
  COUNT(*) AS n_orders,
  CAST(SUM(CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 1 ELSE 0 END)
       AS BIGINT) AS weekend_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
  CAST(datediff('day', MIN(o_orderdate), MAX(o_orderdate)) AS INT)
    AS days_span,
  CAST(day(last_day(date_trunc('month', o_orderdate))) AS INT) AS month_days
FROM orders
GROUP BY date_trunc('month', o_orderdate), quarter(o_orderdate)
ORDER BY month_start
"""


SPECS = [
    QuerySpec("q_calendar_revenue", q_calendar_revenue, Q_CALENDAR_SQL,
              doc="calendar/date-function breadth aggregation",
              tags=("analytics",)),
    QuerySpec("mm_audio_windows", mm_audio_windows, MM_AUDIO_WINDOWS_SQL,
              doc="native sliding byte windows over binary payloads",
              tags=("multimodal",)),
    QuerySpec("mm_codec_roundtrip", mm_codec_roundtrip,
              MM_CODEC_ROUNDTRIP_SQL,
              doc="real WAV/BMP encode→decode round-trip, header fields "
                  "oracle-pinned from UTF-8 byte lengths",
              tags=("multimodal",)),
    QuerySpec("mm_frame_sample", mm_frame_sample, MM_FRAME_SAMPLE_SQL,
              doc="Arrow-batched 1→N PCM frame sampling (real WAV codec; "
                  "geometry oracle-pinned, digests cross-checked vs "
                  "native md5(substring))",
              tags=("multimodal",)),
    QuerySpec("d_unicode_nfc", d_unicode_nfc, D_UNICODE_NFC_SQL,
              doc="pandas_udf NFC normalization vs DuckDB nfc_normalize",
              tags=("text",)),
]
