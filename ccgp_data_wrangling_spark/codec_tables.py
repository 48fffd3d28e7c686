"""Pluggable verified-constants loading (``SPARK_GRAFT_CODEC_TABLES``).

Three codec variants gate on tabulated constants this engine refuses
to transcribe from memory, because an in-repo round trip cannot catch
a mis-transcribed line when encoder and decoder share the one table
definition (the r11/r12 judged policy; see SURVEY "Round-12"):

* JBIG2 standard Huffman tables **B.6-B.15** (ITU-T T.88 Annex B) —
  SBHUFF text-region selectors 0-2;
* the **T.81 QM-coder state table** (JPEG arithmetic coding);
* the **ISO 11172-3 Table 3-B.3 synthesis window** (512 taps — the
  only memorized constants between MP3 subband samples and PCM; the
  matrixing cosines are formulas).

This module closes those gates STRUCTURALLY: point
``SPARK_GRAFT_CODEC_TABLES`` at a JSON file carrying tables copied
from an authoritative spec text, and the loader validates everything
checkable before the codecs will use them:

* each Huffman table must build (Kraft-complete prefix code, B.3
  canonical assignment), carry sane field widths, and satisfy the
  spec's STRUCTURAL shape (the DS tables B.8-B.10 carry an OOB line,
  the FS tables B.6-B.7 do not, every table spans negatives via a
  32-bit lower line);
* the QM table rows must be (Qe, NMPS, NLPS, SWITCH) with valid
  state indices, 16-bit Qe, boolean switch;
* the synthesis window must be 512 finite taps that actually
  RECONSTRUCT: the loader runs the §2.4.3.2 synthesis filterbank
  against its analysis twin (C = D/32) on a known signal and
  requires ≥ 40 dB SNR — garbage scores ~0 dB and even a single
  corrupted coefficient drops the pair below threshold, so this is a
  real transcription check, not a length check.

JSON shape::

    {"jbig2_standard_tables": {"B.6": [[preflen, rangelen, rangelow,
                                        "kind?"], ...], ...},
     "t81_qm": [[qe, nmps, nlps, switch], ...],
     "mp3_synthesis_window": [512 floats]}

``synthetic_pqmf_window()`` builds a DECLARED-SYNTHETIC near-perfect-
reconstruction window (sqrt-raised-cosine prototype, ~55 dB) so the
whole wiring is exercised end-to-end in tests without ever claiming
to be the standard table. Absent tables keep their honest
``NotImplementedError`` gates.
"""

from __future__ import annotations

import json
import os
from typing import Any

import numpy as np

_ENV = "SPARK_GRAFT_CODEC_TABLES"
_SENTINEL = object()
_cache: Any = _SENTINEL
_cache_key: str | None = None


def reset_codec_tables_cache() -> None:
    global _cache, _cache_key
    _cache = _SENTINEL
    _cache_key = None


def load_codec_tables() -> dict[str, Any]:
    """Parse + validate the tables file named by the env var; {} when
    unset. Cached per path; validation errors raise ValueError."""
    global _cache, _cache_key
    path = os.environ.get(_ENV)
    if _cache is not _SENTINEL and _cache_key == path:
        return _cache
    out: dict[str, Any] = {}
    if path:
        with open(path, encoding="utf-8") as fh:
            raw = json.load(fh)
        if not isinstance(raw, dict):
            raise ValueError(f"{_ENV} file must hold a JSON object")
        if "jbig2_standard_tables" in raw:
            out["jbig2"] = _validate_jbig2(
                raw["jbig2_standard_tables"]
            )
        if "t81_qm" in raw:
            out["t81_qm"] = _validate_qm(raw["t81_qm"])
        if "mp3_synthesis_window" in raw:
            out["mp3_window"] = _validate_window(
                raw["mp3_synthesis_window"]
            )
    _cache = out
    _cache_key = path
    return out


def jbig2_standard_table(name: str):
    """The loaded T.88 Annex B table ``name`` (e.g. "B.6"), or None
    when no verified tables file supplies it."""
    return load_codec_tables().get("jbig2", {}).get(name)


def mp3_synthesis_window():
    """The loaded 512-tap synthesis window, or None."""
    return load_codec_tables().get("mp3_window")


# ---------------------------------------------------------------------------
# Validation
# ---------------------------------------------------------------------------

_JBIG2_NAMES = [f"B.{i}" for i in range(6, 16)]
_OOB_REQUIRED = {"B.8", "B.9", "B.10"}   # DS tables end runs via OOB
_OOB_FORBIDDEN = {"B.6", "B.7"}          # FS tables have no OOB


def _validate_jbig2(tables: dict) -> dict:
    from ccgp_data_wrangling_spark.operators.jbig2 import HuffTable

    if not isinstance(tables, dict):
        raise ValueError("jbig2_standard_tables must be an object")
    out = {}
    for name, lines in tables.items():
        if name not in _JBIG2_NAMES:
            raise ValueError(
                f"unknown JBIG2 standard table name {name!r} "
                f"(expected one of {_JBIG2_NAMES})"
            )
        parsed = []
        has_oob = False
        has_lower = False
        for ln in lines:
            if not 3 <= len(ln) <= 4:
                raise ValueError(f"{name}: line {ln!r} malformed")
            plen, rlen, rlow = int(ln[0]), int(ln[1]), int(ln[2])
            kind = str(ln[3]) if len(ln) > 3 else "norm"
            if kind not in ("norm", "lower", "upper", "oob"):
                raise ValueError(f"{name}: unknown kind {kind!r}")
            if not 1 <= plen <= 32:
                raise ValueError(f"{name}: prefix length {plen}")
            if not 0 <= rlen <= 32:
                raise ValueError(f"{name}: range length {rlen}")
            has_oob |= kind == "oob"
            has_lower |= kind == "lower"
            parsed.append((plen, rlen, rlow, kind))
        if name in _OOB_REQUIRED and not has_oob:
            raise ValueError(
                f"{name}: the T.88 DS tables carry an OOB line"
            )
        if name in _OOB_FORBIDDEN and has_oob:
            raise ValueError(
                f"{name}: the T.88 FS tables have no OOB line"
            )
        try:
            out[name] = HuffTable(parsed)
        except AssertionError as exc:
            raise ValueError(f"{name}: {exc}") from exc
    return out


def _validate_qm(rows: Any) -> list[tuple[int, int, int, int]]:
    if not isinstance(rows, list) or len(rows) < 16:
        raise ValueError("t81_qm must be a list of >= 16 state rows")
    n = len(rows)
    out = []
    for i, row in enumerate(rows):
        if len(row) != 4:
            raise ValueError(f"t81_qm row {i} must be "
                             "(Qe, NMPS, NLPS, SWITCH)")
        qe, nmps, nlps, switch = (int(v) for v in row)
        if not 1 <= qe <= 0xFFFF:
            raise ValueError(f"t81_qm row {i}: Qe {qe} out of range")
        if not 0 <= nmps < n or not 0 <= nlps < n:
            raise ValueError(f"t81_qm row {i}: state index escapes "
                             "the table")
        if switch not in (0, 1):
            raise ValueError(f"t81_qm row {i}: SWITCH must be 0/1")
        out.append((qe, nmps, nlps, switch))
    return out


def _pqmf_synthesize(frames: np.ndarray, window: np.ndarray) -> np.ndarray:
    """ISO 11172-3 §2.4.3.2 synthesis filterbank: per 32-sample
    frame, matrix V = N·S (N_ik = cos((16+i)(2k+1)π/64) — a formula,
    not a table), the 1024-FIFO/512-U index dance, W = U·D, 16-fold
    fold-down. ``frames`` is (n, 32)."""
    n64 = np.cos(
        np.pi * (16 + np.arange(64))[:, None]
        * (2 * np.arange(32)[None, :] + 1) / 64.0
    )
    fifo = np.zeros(1024)
    out = np.empty((len(frames), 32))
    for f, s in enumerate(np.asarray(frames, np.float64)):
        fifo[64:] = fifo[:-64]
        fifo[:64] = n64 @ s
        u = np.empty(512)
        for i in range(8):
            u[64 * i:64 * i + 32] = fifo[128 * i:128 * i + 32]
            u[64 * i + 32:64 * i + 64] = fifo[
                128 * i + 96:128 * i + 128
            ]
        out[f] = (u * window).reshape(16, 32).sum(axis=0)
    return out.reshape(-1)


def _pqmf_analyze(x: np.ndarray, window: np.ndarray) -> np.ndarray:
    """The §C.1.3 analysis twin (C = D/32), used only to VALIDATE a
    supplied synthesis window functionally."""
    c = np.asarray(window, np.float64) / 32.0
    m = np.cos(
        np.pi * (2 * np.arange(32)[:, None] + 1)
        * (np.arange(64)[None, :] - 16) / 64.0
    )
    fifo = np.zeros(512)
    frames = []
    for at in range(0, len(x) - 31, 32):
        fifo[32:] = fifo[:-32]
        fifo[:32] = x[at:at + 32][::-1]
        y = (fifo * c).reshape(8, 64).sum(axis=0)
        frames.append(m @ y)
    return np.array(frames)


_PQMF_DELAY = 481  # (512-31)-sample analysis+synthesis cascade delay


def pqmf_reconstruction_snr(window: np.ndarray) -> tuple[float, float]:
    """(snr_db, fitted_gain) of analysis→synthesis through the
    window on a fixed multitone — the loader's functional check."""
    t = np.arange(32 * 80, dtype=np.float64)
    x = (
        np.sin(t / 5.0)
        + 0.5 * np.sin(t / 13.1 + 1.0)
        + 0.3 * np.sin(t / 37.7 + 2.0)
    )
    y = _pqmf_synthesize(_pqmf_analyze(x, window), window)
    n = len(x) - _PQMF_DELAY - 64
    sig = x[:n]
    yy = y[_PQMF_DELAY:_PQMF_DELAY + n]
    denom = float(yy @ yy)
    if denom <= 0.0 or not np.isfinite(denom):
        return 0.0, 0.0
    gain = float(sig @ yy) / denom
    err = sig - gain * yy
    snr = 10.0 * np.log10(
        float((sig**2).mean()) / max(float((err**2).mean()), 1e-300)
    )
    return snr, gain


def _validate_window(vals: Any) -> np.ndarray:
    arr = np.asarray(vals, np.float64)
    if arr.shape != (512,):
        raise ValueError("mp3_synthesis_window must carry exactly "
                         "512 taps")
    if not np.isfinite(arr).all():
        raise ValueError("mp3_synthesis_window has non-finite taps")
    snr, gain = pqmf_reconstruction_snr(arr)
    if snr < 40.0:
        raise ValueError(
            f"mp3_synthesis_window fails the reconstruction check "
            f"({snr:.1f} dB < 40 dB): the supplied taps do not form "
            f"a near-perfect-reconstruction filterbank window"
        )
    return arr


def synthetic_pqmf_window() -> list[float]:
    """A DECLARED-SYNTHETIC 512-tap near-PR synthesis window — a
    sqrt-raised-cosine prototype (power-complementary by
    construction, ~55 dB through the cascade) centred at tap 256
    with the (−1)^(n//64) block-sign pattern the U/W fold expects,
    scaled for unit cascade gain. It exercises every piece of the
    synthesis wiring without ever claiming to be Table 3-B.3."""
    nfft = 8192
    w = np.fft.rfftfreq(nfft) * 2 * np.pi
    w0 = np.pi / 64
    dw = 1.0 * w0
    hmag = np.zeros(len(w))
    hmag[w <= w0 - dw] = 1.0
    trans = (w > w0 - dw) & (w < w0 + dw)
    hmag[trans] = np.sqrt(
        0.5 * (1 + np.cos(np.pi * (w[trans] - (w0 - dw)) / (2 * dw)))
    )
    h_full = np.roll(np.fft.irfft(hmag), nfft // 2)
    h = h_full[nfft // 2 - 256:nfft // 2 + 256]
    h = h / h.sum()
    n = np.arange(512)
    d = 64.0 * h * (-1.0) ** (n // 64)  # unit cascade gain
    return [float(v) for v in d]
