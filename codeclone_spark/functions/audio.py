"""The fused per-clip decode pass — one Arrow-batched map derives EVERY
per-row audio fact in a single decode (the reference fuses four AST walks
into one for the same reason, ``analysis/units.py:153``; its per-file error
rows instead of exceptions come from ``core/worker.py:46-94``).

The decode row is declared once, here, as ``DECODE_OUT_SCHEMA`` (the
reference's one frozen ``Unit`` dataclass, ``models.py:14-33``): the name
lists, the null row and the facts schema in ``plans/facts.py`` all derive
from it.  Phase A (decode) and phase C (SNR) decode payloads through one
guard, ``_guarded_decode``, so both apply the same null, size and
malformed-payload checks.

Design for 100 TB:
- ``mapInPandas`` over the bare clips scan (and, for SNR, over the small
  sha-mismatch subset joined to its fixture PCM): Arrow batches cross the
  JVM<->Python boundary once; no row-at-a-time Python UDFs anywhere.
- Heavy binary columns (``bytes``, ``pcm_ref``) are consumed inside the
  batch and NOT emitted — downstream rules shuffle only small scalar facts,
  never raw audio.
- A per-clip byte cap (``MAX_CLIP_BYTES``, analog of the reference's 10 MiB
  ``MAX_FILE_SIZE`` ``core/_types.py:50``) bounds worst-case task memory;
  oversized rows become error rows, never OOMs.
- Undecodable/oversized/malformed rows become ``error_kind`` rows — a task
  NEVER fails because of one bad clip.
"""

from __future__ import annotations

import unicodedata
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from codeclone_spark.schema import CLIPS_SCHEMA
from codeclone_spark.synth import LOSSLESS_SNR_DB, decode_pcm, pcm_sha256

MAX_CLIP_BYTES = 20 * 1024 * 1024  # per-clip guard (reference MAX_FILE_SIZE)
DUR_TOLERANCE_MS = 5.0
SNR_MIN_DB = 30.0


def to_nfc(s: Any) -> str | None:
    """NFC form of a transcript; None for a null (None, or NaN in pandas)."""
    if s is None or (isinstance(s, float) and np.isnan(s)):
        return None
    return unicodedata.normalize("NFC", str(s))


# Phase A: decode over the bare clips scan — map-only, the heavy `bytes`
# column never enters a shuffle.  Phase B (plans/facts.py) joins small meta
# columns; phase C re-reads PCM only for sha-mismatched rows to compute SNR.
DECODE_OUT_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("sr_hz", IntegerType()),
        StructField("dur_ms", IntegerType()),
        StructField("codec", StringType()),
        StructField("transcript", StringType()),
        StructField("part", StringType()),
        StructField("transcript_nfc", StringType()),
        StructField("decode_ok", BooleanType()),
        StructField("error_kind", StringType()),
        StructField("decoded_samples", LongType()),
        StructField("decoded_dur_ms", DoubleType()),
        StructField("pcm_sha256", StringType()),
        StructField("rms", DoubleType()),
        StructField("peak", DoubleType()),
        StructField("clipping_ratio", DoubleType()),
        StructField("silence_ratio", DoubleType()),
        StructField("spectral_flatness", DoubleType()),
        StructField("dominant_freq_hz", DoubleType()),
        StructField("band_energies", ArrayType(DoubleType())),
    ]
)
# The clips columns pass through; transcript_nfc follows them; every later
# column is a fact of the decoded PCM, null unless the decode sets it.
DECODE_CARRIED = [n for n in DECODE_OUT_SCHEMA.names if n in CLIPS_SCHEMA.names]
DECODE_FACTS = DECODE_OUT_SCHEMA.names[len(DECODE_CARRIED) + 1 :]

STFT_WIN = 512
STFT_HOP = 256
SILENCE_DBFS = -50.0
N_BANDS = 8


def _spectral_facts(x: np.ndarray, sr: int | None) -> dict[str, Any]:
    """Frame-wise spectral QA features from float PCM in [-1, 1]:
    silence ratio (frames under -50 dBFS), spectral flatness
    (geometric/arithmetic mean of the average power spectrum), dominant
    frequency, and log-band energies (drift histograms / fingerprinting).
    Pure vectorized numpy — one strided frame matrix, one batched rFFT.
    A clip shorter than one frame has none of them."""
    n = x.shape[0]
    if n < STFT_WIN:
        return {}
    n_frames = 1 + (n - STFT_WIN) // STFT_HOP
    frames = np.lib.stride_tricks.as_strided(
        x,
        shape=(n_frames, STFT_WIN),
        strides=(x.strides[0] * STFT_HOP, x.strides[0]),
        writeable=False,
    )
    frame_rms = np.sqrt(np.mean(frames * frames, axis=1))
    silence = float(np.mean(frame_rms < 10 ** (SILENCE_DBFS / 20.0)))

    spec = np.abs(np.fft.rfft(frames * np.hanning(STFT_WIN), axis=1)) ** 2
    avg = spec.mean(axis=0) + 1e-12
    flatness = float(np.exp(np.mean(np.log(avg))) / np.mean(avg))
    dom_bin = int(np.argmax(avg[1:]) + 1)
    dom_hz = float(dom_bin * sr / STFT_WIN) if sr else None

    edges = np.linspace(0, avg.shape[0], N_BANDS + 1, dtype=int)
    bands = [float(np.log10(avg[edges[i]: edges[i + 1]].sum() + 1e-12))
             for i in range(N_BANDS)]
    return {
        "silence_ratio": round(silence, 6),
        "spectral_flatness": round(flatness, 6),
        "dominant_freq_hz": dom_hz,
        "band_energies": bands,
    }


def _guarded_decode(payload, codec) -> tuple[np.ndarray | None, str | None]:
    """The one decode guard of phases A and C: ``(pcm, None)``, or
    ``(None, error_kind)`` for a null payload, one over ``MAX_CLIP_BYTES``
    or one ``decode_pcm`` rejects — never an exception."""
    if payload is None:
        return None, "null_bytes"
    if len(payload) > MAX_CLIP_BYTES:
        return None, "clip_too_large"
    try:
        return decode_pcm(codec, bytes(payload)), None
    except Exception:
        return None, "undecodable"


def _decode_facts(payload, codec, sr_hz) -> dict[str, Any]:
    """The decode facts of one clip that have a value; the rest are null."""
    pcm, error_kind = _guarded_decode(payload, codec)
    if pcm is None:
        return {"decode_ok": False, "error_kind": error_kind}
    n = int(pcm.shape[0])
    out: dict[str, Any] = {
        "decode_ok": True,
        "decoded_samples": n,
        "pcm_sha256": pcm_sha256(pcm),
    }
    sr = int(sr_hz) if sr_hz is not None and not pd.isna(sr_hz) else None
    if sr and sr > 0:
        out["decoded_dur_ms"] = float(n * 1000.0 / sr)
    if n:
        x = pcm.astype(np.float64) / 32768.0
        out["rms"] = float(np.sqrt(np.mean(x * x)))
        out["peak"] = float(np.max(np.abs(x)))
        out["clipping_ratio"] = float(np.mean(np.abs(pcm) >= 32767))
        out.update(_spectral_facts(x, sr))
    return out


def decode_map_in_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Phase A: bare-scan decode; emits ``DECODE_OUT_SCHEMA`` rows,
    consumes `bytes`.  No fixture inputs -> no shuffle upstream of this map."""
    for pdf in batches:
        n = len(pdf)
        cols: dict[str, list] = {c: [None] * n for c in DECODE_FACTS}
        payloads = pdf["bytes"].to_numpy(dtype=object)
        codecs = pdf["codec"].to_numpy(dtype=object)
        srs = pdf["sr_hz"].to_numpy(dtype=object)
        for i in range(n):
            for k, v in _decode_facts(payloads[i], codecs[i], srs[i]).items():
                cols[k][i] = v
        nfc = [to_nfc(t) for t in pdf["transcript"].to_numpy(dtype=object)]
        yield pdf[DECODE_CARRIED].assign(transcript_nfc=nfc, **cols)


def _snr_db(payload, codec, ref) -> float | None:
    """SNR of the decoded clip against its fixture PCM; None when the
    reference is null, the clip fails the decode guard, or the two differ
    in length or are empty."""
    if ref is None:
        return None
    pcm, _ = _guarded_decode(payload, codec)
    if pcm is None:
        return None
    r = np.frombuffer(bytes(ref), dtype="<i2")
    if r.shape[0] != pcm.shape[0] or not pcm.shape[0]:
        return None
    r = r.astype(np.float64)
    err = r - pcm.astype(np.float64)
    ep = float(np.sum(err * err))
    if ep == 0.0:
        return LOSSLESS_SNR_DB
    return 10.0 * np.log10(max(float(np.sum(r * r)), 1e-12) / ep)


def snr_map_in_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Phase C: SNR vs fixture PCM for the (small) sha-mismatch subset.
    Input: clip_id, bytes, codec, pcm_ref.  Output: clip_id, snr_db."""
    for pdf in batches:
        snrs = [
            _snr_db(payload, codec, ref)
            for payload, codec, ref in zip(
                pdf["bytes"].to_numpy(dtype=object),
                pdf["codec"].to_numpy(dtype=object),
                pdf["pcm_ref"].to_numpy(dtype=object),
            )
        ]
        yield pd.DataFrame(
            {"clip_id": pdf["clip_id"].to_numpy(dtype=object), "snr_db": snrs}
        )
