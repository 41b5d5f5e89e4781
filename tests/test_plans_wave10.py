"""Tenth-wave tests: multimodal plumbing shape/determinism (real
stdlib WAV/BMP codecs), and real non-ASCII NFC behavior the ASCII
corpus can't exercise."""

from __future__ import annotations

import hashlib
import unicodedata

import duckdb
import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.multimodal import (
    FRAME_SCHEMA,
    chunk_binary,
    frame_sample,
)
from idn_area_etl_spark.operators.text import nfc_normalize_udf
from idn_area_etl_spark.plans import all_specs, wave10


def test_all_wave10_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave10.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave10.SPECS if s.oracle is not None]
)
def test_wave10_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


# --------------------------------------------------------------------------
# chunk_binary: exact windows against hashlib on a tiny fixture
# --------------------------------------------------------------------------


def test_chunk_binary_exact_windows(spark):
    payload = b"0123456789abcdefghijklmnopqrstuvwxyzABCD"  # 40 bytes
    blobs = spark.createDataFrame([(1, payload)], ["doc_id", "payload"])
    rows = sorted(
        chunk_binary(blobs, chunk=16, stride=8).collect(),
        key=lambda r: r.chunk_no,
    )
    # offsets 1, 9, 17, 25 (sequence stops at len-chunk+1 = 25)
    assert [r.offset for r in rows] == [1, 9, 17, 25]
    assert all(r.chunk_len == 16 for r in rows)
    for r in rows:
        expect = hashlib.md5(payload[r.offset - 1 : r.offset + 15]).hexdigest()
        assert r.chunk_md5 == expect


def test_chunk_binary_short_payload_single_window(spark):
    blobs = spark.createDataFrame([(1, b"tiny")], ["doc_id", "payload"])
    rows = chunk_binary(blobs, chunk=16, stride=8).collect()
    assert len(rows) == 1
    assert rows[0].chunk_len == 4


# --------------------------------------------------------------------------
# frame_sample: real WAV windowing — digests verified against a local
# reimplementation; non-media payloads produce zero frames
# --------------------------------------------------------------------------


def test_frame_sample_wav_windows_match_local_slices(spark):
    from idn_area_etl_spark.functions.codecs import encode_wav

    pcm1 = bytes(range(256)) * 10          # 2560 B: exactly 4 windows
    pcm2 = (b"\x01\x02\x03\x04" * 50)      # 200 B: shorter than one window
    pcm3 = bytes(range(256)) * 25          # 6400 B: 10 windows, sample 4
    rate = 8000                            # 40 ms window = 320 smp = 640 B
    blobs = spark.createDataFrame(
        [
            (1, encode_wav(pcm1, rate)),
            (2, encode_wav(pcm2, rate)),
            (3, encode_wav(pcm3, rate)),
        ],
        ["doc_id", "payload"],
    )
    out = frame_sample(blobs, n_samples=4, window_ms=40)
    assert out.schema == FRAME_SCHEMA
    rows = sorted(map(tuple, out.collect()))

    expected = []
    for doc_id, pcm in ((1, pcm1), (2, pcm2), (3, pcm3)):
        win = 640
        n_avail = max(1, len(pcm) // win)
        k = min(4, n_avail)
        starts = [j * n_avail // k * win for j in range(k)]
        for fn, off in enumerate(starts):
            expected.append(
                (
                    doc_id,
                    fn,
                    off // 2 * 1000 // rate,
                    hashlib.md5(pcm[off : off + win]).hexdigest(),
                )
            )
    assert rows == sorted(expected)
    # the 10-window doc is sampled ACROSS the file (windows 0,2,5,7 →
    # 0/80/200/280 ms), not the first 4 consecutive windows (0-160 ms)
    doc3_ts = sorted(r[2] for r in rows if r[0] == 3)
    assert doc3_ts == [0, 80, 200, 280]


def test_frame_sample_bmp_bands_and_nonmedia_skip(spark):
    from idn_area_etl_spark.functions.codecs import encode_bmp

    px = bytes(range(48)) * 8              # 16x8 raster
    blobs = spark.createDataFrame(
        [(1, encode_bmp(16, 8, px)), (2, b"not media"), (3, b"")],
        ["doc_id", "payload"],
    )
    rows = frame_sample(blobs, n_samples=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1}              # non-media yields nothing
    frames = sorted(by_doc[1], key=lambda r: r.frame_no)
    assert len(frames) == 4                # 8 rows / band=2 → 4 bands
    for fn, r in enumerate(frames):
        band = px[fn * 2 * 48 : (fn + 1) * 2 * 48]
        assert r.frame_md5 == hashlib.md5(band).hexdigest()


# --------------------------------------------------------------------------
# NFC: real non-ASCII behavior, cross-checked against DuckDB
# --------------------------------------------------------------------------


def test_nfc_normalizes_decomposed_text(spark):
    decomposed = "café and Å"  # e+combining acute, A+ring
    composed = unicodedata.normalize("NFC", decomposed)
    assert decomposed != composed  # fixture is genuinely non-NFC
    df = spark.createDataFrame([(1, decomposed), (2, "plain")], ["doc_id", "text"])
    nfc = nfc_normalize_udf()
    out = {
        r.doc_id: r.n
        for r in df.select("doc_id", nfc(F.col("text")).alias("n")).collect()
    }
    assert out[1] == composed
    assert out[2] == "plain"
    con = duckdb.connect()
    duck = con.sql("SELECT nfc_normalize(?)", params=[decomposed]).fetchone()[0]
    con.close()
    assert out[1] == duck
