"""The fused per-clip decode pass — one Arrow-batched map derives EVERY
per-row audio fact in a single decode (the reference fuses four AST walks
into one for the same reason, ``analysis/units.py:153``; its per-file error
rows instead of exceptions come from ``core/worker.py:46-94``).

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

import hashlib
import unicodedata
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from codeclone_spark.synth import LOSSLESS_SNR_DB, decode_pcm

MAX_CLIP_BYTES = 20 * 1024 * 1024  # per-clip guard (reference MAX_FILE_SIZE)
DUR_TOLERANCE_MS = 5.0
SNR_MIN_DB = 30.0


def _nfc(s: Any) -> str | None:
    if s is None or (isinstance(s, float) and np.isnan(s)):
        return None
    return unicodedata.normalize("NFC", str(s))


# Phase A: decode over the bare clips scan — map-only, the heavy `bytes`
# column never enters a shuffle.  Phase B (plans/facts.py) joins small meta
# columns; phase C re-reads PCM only for sha-mismatched rows to compute SNR.
DECODE_CARRIED = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript", "part"]
DECODE_FACTS = [
    "transcript_nfc",
    "decode_ok",
    "error_kind",
    "decoded_samples",
    "decoded_dur_ms",
    "pcm_sha256",
    "rms",
    "peak",
    "clipping_ratio",
    "silence_ratio",
    "spectral_flatness",
    "dominant_freq_hz",
    "band_energies",
]

STFT_WIN = 512
STFT_HOP = 256
SILENCE_DBFS = -50.0
N_BANDS = 8


def _spectral_facts(x: np.ndarray, sr: int | None) -> dict[str, Any]:
    """Frame-wise spectral QA features from float PCM in [-1, 1]:
    silence ratio (frames under -50 dBFS), spectral flatness
    (geometric/arithmetic mean of the average power spectrum), dominant
    frequency, and log-band energies (drift histograms / fingerprinting).
    Pure vectorized numpy — one strided frame matrix, one batched rFFT."""
    n = x.shape[0]
    if n < STFT_WIN:
        return {
            "silence_ratio": None,
            "spectral_flatness": None,
            "dominant_freq_hz": None,
            "band_energies": None,
        }
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
    dom_hz = float(dom_bin * (sr or 0) / STFT_WIN) if sr else None

    edges = np.linspace(0, avg.shape[0], N_BANDS + 1, dtype=int)
    bands = [float(np.log10(avg[edges[i]: edges[i + 1]].sum() + 1e-12))
             for i in range(N_BANDS)]
    return {
        "silence_ratio": round(silence, 6),
        "spectral_flatness": round(flatness, 6),
        "dominant_freq_hz": dom_hz,
        "band_energies": bands,
    }


def _decode_row(payload, codec, sr_hz) -> dict[str, Any]:
    out: dict[str, Any] = {
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
    if payload is None:
        out["error_kind"] = "null_bytes"
        return out
    if len(payload) > MAX_CLIP_BYTES:
        out["error_kind"] = "clip_too_large"
        return out
    try:
        pcm = decode_pcm(codec, bytes(payload))
    except Exception:
        out["error_kind"] = "undecodable"
        return out
    out["decode_ok"] = True
    n = int(pcm.shape[0])
    out["decoded_samples"] = n
    sr = int(sr_hz) if sr_hz is not None and not pd.isna(sr_hz) else None
    if sr and sr > 0:
        out["decoded_dur_ms"] = float(n * 1000.0 / sr)
    x = pcm.astype(np.float64) / 32768.0
    if n:
        out["rms"] = float(np.sqrt(np.mean(x * x)))
        out["peak"] = float(np.max(np.abs(x)))
        out["clipping_ratio"] = float(np.mean(np.abs(pcm) >= 32767))
        out.update(_spectral_facts(x, int(sr) if sr else None))
    out["pcm_sha256"] = hashlib.sha256(pcm.astype("<i2").tobytes()).hexdigest()
    return out


def decode_map_in_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Phase A: bare-scan decode; emits carried + decode facts, consumes
    `bytes`.  No fixture inputs -> no shuffle upstream of this map."""
    for pdf in batches:
        n = len(pdf)
        cols: dict[str, list] = {c: [None] * n for c in DECODE_FACTS}
        payloads = pdf["bytes"].to_numpy(dtype=object)
        codecs = pdf["codec"].to_numpy(dtype=object)
        srs = pdf["sr_hz"].to_numpy(dtype=object)
        trs = pdf["transcript"].to_numpy(dtype=object)
        for i in range(n):
            row = _decode_row(payloads[i], codecs[i], srs[i])
            for k, v in row.items():
                cols[k][i] = v
            cols["transcript_nfc"][i] = _nfc(trs[i])
        out = pdf[DECODE_CARRIED].copy()
        for k in DECODE_FACTS:
            out[k] = cols[k]
        yield out


def snr_map_in_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Phase C: SNR vs fixture PCM for the (small) sha-mismatch subset.
    Input: clip_id, bytes, codec, pcm_ref.  Output: clip_id, snr_db."""
    for pdf in batches:
        ids, snrs = [], []
        payloads = pdf["bytes"].to_numpy(dtype=object)
        codecs = pdf["codec"].to_numpy(dtype=object)
        refs = pdf["pcm_ref"].to_numpy(dtype=object)
        cids = pdf["clip_id"].to_numpy(dtype=object)
        for i in range(len(pdf)):
            snr = None
            if payloads[i] is not None and refs[i] is not None:
                try:
                    pcm = decode_pcm(codecs[i], bytes(payloads[i]))
                except Exception:
                    pcm = None
                if pcm is not None:
                    ref = np.frombuffer(bytes(refs[i]), dtype="<i2")
                    if ref.shape[0] == pcm.shape[0] and pcm.shape[0] > 0:
                        r = ref.astype(np.float64)
                        err = r - pcm.astype(np.float64)
                        ep = float(np.sum(err * err))
                        sp = float(np.sum(r * r))
                        snr = (
                            LOSSLESS_SNR_DB
                            if ep == 0.0
                            else 10.0 * np.log10(max(sp, 1e-12) / ep)
                        )
            ids.append(cids[i])
            snrs.append(snr)
        yield pd.DataFrame({"clip_id": ids, "snr_db": snrs})
