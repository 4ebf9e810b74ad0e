"""Pandas-only unit tests of the two decode maps, with no Spark session.

``decode_map_in_pandas`` (phase A) and ``snr_map_in_pandas`` (phase C) are
called directly on hand-built batches shaped as Arrow hands them to the
Python worker (binary as ``bytes``/``None``, a nullable int column as
float64 with NaN).  These rows are ones no synthetic corpus plants: null
bytes, an oversize payload, clips shorter than one STFT frame, a
zero-sample clip, and SNR references that are null or of another length.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
import pytest

from codeclone_spark.functions.audio import (
    DECODE_OUT_SCHEMA,
    MAX_CLIP_BYTES,
    STFT_HOP,
    STFT_WIN,
    decode_map_in_pandas,
    snr_map_in_pandas,
)
from codeclone_spark.synth import LOSSLESS_SNR_DB, encode_pcm

SR = 16000
NULL_FACTS = {
    "decode_ok": False,
    "error_kind": None,
    "decoded_samples": None,
    "decoded_dur_ms": None,
    "pcm_sha256": None,
    "rms": None,
    "peak": None,
    "clipping_ratio": None,
    "silence_ratio": None,
    "spectral_flatness": None,
    "dominant_freq_hz": None,
    "band_energies": None,
}


def _sha(pcm: np.ndarray) -> str:
    return hashlib.sha256(pcm.astype("<i2").tobytes()).hexdigest()


def _tone(n: int, bin_k: int, amp: float = 0.5) -> np.ndarray:
    """A sine centred on STFT bin *bin_k* at ``SR``."""
    t = np.arange(n, dtype=np.float64)
    return np.round(amp * 32767.0 * np.sin(2 * np.pi * bin_k * t / STFT_WIN)).astype(
        np.int16
    )


def _plain(v):
    """NaN (how pandas stores a None among floats) back to None."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return v


def _decode(rows: list[dict]) -> list[dict]:
    pdf = pd.DataFrame(
        {
            "clip_id": [r["clip_id"] for r in rows],
            "bytes": [r["bytes"] for r in rows],
            "sr_hz": pd.array([r.get("sr_hz", SR) for r in rows], dtype="float64"),
            "dur_ms": [500] * len(rows),
            "codec": [r.get("codec", "pcm_s16le") for r in rows],
            "transcript": [r.get("transcript", "hi") for r in rows],
            "part": ["p0"] * len(rows),
        }
    )
    out = pd.concat(list(decode_map_in_pandas(iter([pdf]))), ignore_index=True)
    assert list(out.columns) == [f.name for f in DECODE_OUT_SCHEMA]
    assert list(out["clip_id"]) == [r["clip_id"] for r in rows]
    return [
        {k: _plain(v) for k, v in rec.items()} for rec in out.to_dict("records")
    ]


def _assert_facts(got: dict, want: dict) -> None:
    facts = {k: got[k] for k in NULL_FACTS}
    assert set(want) == set(NULL_FACTS)
    for k, w in want.items():
        g = facts[k]
        if isinstance(w, float):
            assert g == pytest.approx(w, rel=1e-9, abs=1e-12), k
        elif isinstance(w, list):
            assert list(g) == pytest.approx(w), k
        else:
            assert g == w, k


def test_decode_error_rows():
    """Null bytes, the byte cap and a malformed payload each give an error
    row with every fact null, and never raise."""
    rows = _decode(
        [
            {"clip_id": "null", "bytes": None},
            {"clip_id": "big", "bytes": b"\0" * (MAX_CLIP_BYTES + 1)},
            {"clip_id": "garbage", "bytes": b"not a flac stream", "codec": "flac"},
            {"clip_id": "odd", "bytes": b"\1\2\3"},
        ]
    )
    kinds = ["null_bytes", "clip_too_large", "undecodable", "undecodable"]
    for row, kind in zip(rows, kinds):
        _assert_facts(row, {**NULL_FACTS, "error_kind": kind})
        assert row["transcript_nfc"] == "hi"


def test_decode_short_and_empty_clips():
    """Below one STFT frame the spectral facts are null while rms, peak,
    clipping and sha are set; a zero-sample clip decodes with 0 samples,
    no level facts and the sha of the empty PCM."""
    short = _tone(STFT_WIN - 1, 40)
    short[:3] = 32767
    x = short.astype(np.float64) / 32768.0
    empty = np.zeros(0, dtype=np.int16)
    rows = _decode(
        [
            {
                "clip_id": "short",
                "bytes": encode_pcm("flac", short),
                "codec": "flac",
                "transcript": "cafe\u0301",  # decomposed
            },
            {"clip_id": "empty", "bytes": encode_pcm("pcm_s16le", empty)},
            {"clip_id": "empty_no_sr", "bytes": b"", "sr_hz": np.nan},
        ]
    )
    _assert_facts(
        rows[0],
        {
            **NULL_FACTS,
            "decode_ok": True,
            "decoded_samples": STFT_WIN - 1,
            "decoded_dur_ms": (STFT_WIN - 1) * 1000.0 / SR,
            "pcm_sha256": _sha(short),
            "rms": float(np.sqrt(np.mean(x * x))),
            "peak": 32767 / 32768.0,
            "clipping_ratio": 3 / (STFT_WIN - 1),
        },
    )
    assert rows[0]["transcript_nfc"] == "caf\u00e9"
    empty_facts = {
        **NULL_FACTS,
        "decode_ok": True,
        "decoded_samples": 0,
        "decoded_dur_ms": 0.0,
        "pcm_sha256": _sha(empty),
    }
    _assert_facts(rows[1], empty_facts)
    _assert_facts(rows[2], {**empty_facts, "decoded_dur_ms": None})


def test_decode_full_clip_facts():
    """A bin-centred tone after a silent lead-in: every spectral fact has a
    value derivable by hand.  Frames starting before sample 1024 that end
    by 1280 are silent: 4 of the 9 frames."""
    n = STFT_WIN + 8 * STFT_HOP
    pcm = _tone(n, 32)
    pcm[: 5 * STFT_HOP] = 0
    x = pcm.astype(np.float64) / 32768.0
    row, no_sr = _decode(
        [
            {"clip_id": "tone", "bytes": encode_pcm("vorbis", pcm), "codec": "vorbis"},
            {"clip_id": "tone_no_sr", "bytes": encode_pcm("pcm_s16le", pcm),
             "sr_hz": np.nan},
        ]
    )
    assert row["silence_ratio"] == round(4 / 9, 6)
    assert row["dominant_freq_hz"] == 32 * SR / STFT_WIN
    assert 0.0 < row["spectral_flatness"] < 0.01  # a pure tone is not flat
    bands = list(row["band_energies"])
    assert len(bands) == 8 and int(np.argmax(bands)) == 1  # bins 32..63
    _assert_facts(
        row,
        {
            "decode_ok": True,
            "error_kind": None,
            "decoded_samples": n,
            "decoded_dur_ms": n * 1000.0 / SR,
            "pcm_sha256": _sha(pcm),
            "rms": float(np.sqrt(np.mean(x * x))),
            "peak": float(np.max(np.abs(x))),
            "clipping_ratio": 0.0,
            "silence_ratio": round(4 / 9, 6),
            "spectral_flatness": row["spectral_flatness"],
            "dominant_freq_hz": 1000.0,
            "band_energies": bands,
        },
    )
    _assert_facts(
        no_sr,
        {
            **{k: row[k] for k in NULL_FACTS},
            "decoded_dur_ms": None,
            "dominant_freq_hz": None,
        },
    )


def test_snr_map_cases():
    """Identical reference → the lossless sentinel; a length mismatch, a
    null reference, null or malformed bytes and an empty clip → None; a
    noisy reference → its exact SNR."""
    pcm = _tone(2000, 20)
    noise = np.random.default_rng(0).normal(0.0, 200.0, pcm.shape[0])
    noisy = np.clip(pcm + noise, -32768, 32767).astype(np.int16)
    r = noisy.astype(np.float64)
    e = r - pcm.astype(np.float64)
    want_noisy = 10.0 * np.log10(np.sum(r * r) / np.sum(e * e))
    raw = encode_pcm("pcm_s16le", pcm)
    cases = [
        ("same", encode_pcm("flac", pcm), "flac", pcm.tobytes(), LOSSLESS_SNR_DB),
        ("shorter_ref", raw, "pcm_s16le", pcm[:-1].tobytes(), None),
        ("null_ref", raw, "pcm_s16le", None, None),
        ("null_bytes", None, "pcm_s16le", pcm.tobytes(), None),
        ("garbage", b"junk", "mp3", pcm.tobytes(), None),
        ("empty", b"", "pcm_s16le", b"", None),
        ("noisy", raw, "pcm_s16le", noisy.tobytes(), want_noisy),
    ]
    pdf = pd.DataFrame(
        {
            "clip_id": [c[0] for c in cases],
            "bytes": [c[1] for c in cases],
            "codec": [c[2] for c in cases],
            "pcm_ref": [c[3] for c in cases],
        }
    )
    out = pd.concat(list(snr_map_in_pandas(iter([pdf]))), ignore_index=True)
    assert list(out.columns) == ["clip_id", "snr_db"]
    assert list(out["clip_id"]) == [c[0] for c in cases]
    for (cid, *_, want), got in zip(cases, out["snr_db"]):
        got = _plain(got)
        if want is None:
            assert got is None, cid
        else:
            assert math.isfinite(got) and got == pytest.approx(want, rel=1e-12), cid
    assert 20.0 < want_noisy < 60.0
