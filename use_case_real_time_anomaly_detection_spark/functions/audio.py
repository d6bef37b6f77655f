"""Audio payload functions — the engine's only non-JVM execution path.

Everything here is vectorized: codecs and SNR run in numpy over whole
Arrow batches; there is no per-row Python in the sample hot path
(BASELINE.json input_hint requirement). The production path is
`with_audio_checks` (one zero-copy `functions/payload.map_payloads` pass —
see that module for why pandas UDFs hit a pipeline ceiling on binary
columns); `make_audio_check_udf` is the equivalent pandas-UDF
formulation, kept as the cross-checked reference implementation (tests
assert both agree).

The reference repo has zero UDFs (SURVEY.md §2.10); this module is the
graft's payload surface: decode `bytes` by `codec`, reconstruct the
deterministic per-clip reference waveform, and verify decoded-PCM
closeness via SNR ≥ 30 dB.

Codec support:
- pcm16 : minimal RIFF/WAVE container around little-endian int16 PCM
- mulaw : ITU-T G.711 μ-law companded 8-bit samples (raw, no container)
- anything else (e.g. the injected invalid 'opus' rows): decode error —
  a real deployment would plug a decoder here; in this container the
  codec registry simply has no entry, which IS the violation signal.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# deterministic reference waveform
# ---------------------------------------------------------------------------


def stable_hash(s: str) -> int:
    """Process-independent 32-bit hash (crc32) — NOT Python hash()."""
    return zlib.crc32(s.encode("utf-8")) & 0xFFFFFFFF


def reference_waveform(clip_id: str, sr_hz: int, dur_ms: int, seed: int = 42) -> np.ndarray:
    """The golden signal for a clip: seed-derived sine + deterministic noise.

    float32 in [-1, 1]; every property derives from (clip_id, seed) so any
    executor can reconstruct it without data movement. The noise term is a
    vectorized integer-hash sequence (uniform, ±0.017 ≈ the σ=0.01 gaussian
    it replaces) rather than an np.random Generator: RNG construction +
    normal() cost ~160 µs/clip, the hash ~50 µs — and this function is the
    hot path of the audio rule (once per clip on both the synth and the
    verify side), so per-clip constant factors set the engine's clips/sec.
    """
    h = stable_hash(f"{seed}:{clip_id}")
    n = max(1, int(round(sr_hz * dur_ms / 1000.0)))
    f0 = 200.0 + (h % 800)  # 200-1000 Hz fundamental
    amp = 0.5 + ((h >> 10) % 100) / 400.0  # 0.5-0.75
    t = np.arange(n, dtype=np.float64) / max(sr_hz, 1)
    sig = amp * np.sin(2 * np.pi * f0 * t)
    # Knuth/Fibonacci-hash white noise, deterministic in (clip_id, seed)
    x = (
        np.arange(n, dtype=np.uint64) * np.uint64(2654435761)
        + np.uint64(h * 40503 + 1)
    ) & np.uint64(0xFFFFFFFF)
    x = (x * np.uint64(2246822519)) & np.uint64(0xFFFFFFFF)
    noise = (x.astype(np.float64) / 2.0**32 - 0.5) * 0.0346
    # QC buckets (~1% each, hash-spread uniformly across partitions so no
    # partition-level drift signal): a deliberately mis-gained capture —
    # overdriven (hard-clipped) or near-silent (dead air). The reference
    # and the synthesized payload share this function, so SNR stays high
    # (the defect is IN the golden copy, exactly like a field recording
    # captured at the wrong gain) — only AudioQcRule's decoded-signal
    # fences can see it. Gains keep μ-law quantization SNR ≥ ~37 dB so
    # the audio-decode rule's 30 dB bar is untouched.
    # quiet gain 0.012: max |x| = (0.75 + 0.0173)·0.012 ≈ 0.0092 < 0.01 so
    # silence_ratio stays exactly 1.0, while μ-law quantization SNR keeps
    # ≥ ~34 dB (measured min across buckets; 0.008 left only 0.5 dB over
    # the 30 dB decode bar)
    q = stable_hash(f"qc:{seed}:{clip_id}") % 97
    gain = 3.0 if q == 13 else (0.012 if q == 41 else 1.0)
    return np.clip((sig + noise) * gain, -1.0, 1.0).astype(np.float32)


# ---------------------------------------------------------------------------
# codecs (numpy-vectorized)
# ---------------------------------------------------------------------------

_WAV_HDR = struct.Struct("<4sI4s4sIHHIIHH4sI")  # 44-byte canonical header


def pcm16_wav_encode(sig: np.ndarray, sr_hz: int) -> bytes:
    pcm = np.clip(np.round(sig * 32767.0), -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    hdr = _WAV_HDR.pack(
        b"RIFF", 36 + len(data), b"WAVE", b"fmt ", 16, 1, 1,
        sr_hz, sr_hz * 2, 2, 16, b"data", len(data),
    )
    return hdr + data


def pcm16_wav_decode(b: bytes) -> tuple[np.ndarray, int]:
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    (_, _, _, _, _, fmt, ch, sr, _, _, bits, _, dlen) = _WAV_HDR.unpack(b[:44])
    if fmt != 1 or ch != 1 or bits != 16:
        raise ValueError(f"unsupported WAV format fmt={fmt} ch={ch} bits={bits}")
    pcm = np.frombuffer(b[44 : 44 + dlen], dtype="<i2")
    return pcm.astype(np.float32) / 32767.0, sr


_MU = 255.0


def mulaw_encode(sig: np.ndarray) -> bytes:
    x = np.clip(sig, -1.0, 1.0).astype(np.float64)
    y = np.sign(x) * np.log1p(_MU * np.abs(x)) / np.log1p(_MU)
    q = np.clip(np.round((y + 1.0) * 127.5), 0, 255).astype(np.uint8)
    return q.tobytes()


def mulaw_decode(b: bytes) -> np.ndarray:
    q = np.frombuffer(b, dtype=np.uint8).astype(np.float64)
    y = q / 127.5 - 1.0
    x = np.sign(y) * (np.expm1(np.abs(y) * np.log1p(_MU))) / _MU
    return x.astype(np.float32)


DECODERS = {
    "pcm16": lambda b, sr: pcm16_wav_decode(b)[0],
    "mulaw": lambda b, sr: mulaw_decode(b),
}

# decoded-signal QC thresholds (shared with functions/audio_features.py,
# which re-exports them): |x| below SILENCE_ABS ⇒ silent sample; |x| at or
# above CLIP_ABS ⇒ hard-clipped sample. Defined here (not in
# audio_features) because audio_features imports this module.
SILENCE_ABS = 0.01
CLIP_ABS = 0.999


def snr_db(ref: np.ndarray, dec: np.ndarray) -> float:
    """Signal-to-noise ratio of `dec` against golden `ref`, in dB."""
    n = min(len(ref), len(dec))
    if n == 0:
        return float("-inf")
    ref, dec = ref[:n].astype(np.float64), dec[:n].astype(np.float64)
    noise = float(np.sum((ref - dec) ** 2))
    sig = float(np.sum(ref**2))
    if noise == 0.0:
        return float("inf")
    if sig == 0.0:
        return float("-inf")
    return 10.0 * np.log10(sig / noise)


# ---------------------------------------------------------------------------
# the Spark-side check (Arrow pandas UDF)
# ---------------------------------------------------------------------------

_AUDIO_RESULT = StructType(
    [
        StructField("ok", BooleanType()),
        StructField("snr_db", DoubleType()),
        StructField("err", StringType()),
    ]
)


def check_clip_qc(
    clip_id,
    payload,
    codec,
    sr,
    dur,
    *,
    min_snr_db: float,
    ref_seed: int,
    snr: bool = True,
    metrics: bool = True,
) -> tuple[bool, float | None, str | None, float | None, float | None, float | None]:
    """The ONE per-clip decode core: (ok, snr_db, err, silence_ratio,
    clip_ratio, rms). `check_clip` is this with ``metrics=False`` — a
    single body so the decode/verdict semantics cannot drift between the
    SNR surface and the QC surface.

    Single source of truth for the Spark paths (mapInArrow / pandas UDF)
    AND the pure-pandas oracle twins — identical numpy ops on identical
    inputs give bit-identical doubles, which is what lets the driver
    hash-compare the audio violations.

    ``snr=False`` skips the golden-signal synthesis + SNR entirely (the
    QC-only ruleset path: the reference waveform exists only to judge
    fidelity, and reconstructing it is roughly half the per-clip CPU);
    ok is then simply "decoded", snr_db None. ``metrics=False`` skips
    the three QC vector ops (the plain decode-rule hot path). The metric
    formulas are byte-for-byte the ones in
    audio_features.signal_features (float64, mean of boolean masks,
    sqrt-of-mean-square) so AudioQcRule violations hash-compare against
    the pandas twin AND against the feature table. Decode failures
    return NULL metrics — an undecodable payload is AudioDecodeRule's
    violation, never a QC one. ``payload`` is any bytes-like (zero-copy
    memoryview on the Arrow path)."""
    try:
        dec_fn = DECODERS.get(codec)
        if dec_fn is None:
            raise ValueError(f"no decoder for codec {codec!r}")
        if payload is None or len(payload) == 0:
            raise ValueError("empty payload")
        s = int(sr) if sr is not None else 0
        dec = dec_fn(payload, s)
        if snr:
            ref = reference_waveform(str(clip_id), s, int(dur or 0), seed=ref_seed)
            db = snr_db(ref, dec)
            # length mismatch beyond 1 sample is itself a failure
            len_ok = abs(len(dec) - len(ref)) <= 1
            ok = bool(len_ok and db >= min_snr_db)
            dbv = db if np.isfinite(db) else None
            err = None if len_ok else "length mismatch"
        else:
            ok, dbv, err = True, None, None
        if metrics and len(dec):
            x = dec.astype(np.float64)
            ax = np.abs(x)
            sil = float(np.mean(ax < SILENCE_ABS))
            cr = float(np.mean(ax >= CLIP_ABS))
            rms = float(np.sqrt(np.mean(x * x)))
        else:
            sil = cr = rms = None
        return ok, dbv, err, sil, cr, rms
    except Exception as exc:  # decode failures are data, not bugs
        return False, None, str(exc)[:120], None, None, None


def check_clip(
    clip_id, payload, codec, sr, dur, *, min_snr_db: float, ref_seed: int
) -> tuple[bool, float | None, str | None]:
    """The per-clip decode + SNR verdict: (ok, snr_db, err) — the
    metrics-free view of check_clip_qc (one shared body)."""
    return check_clip_qc(
        clip_id, payload, codec, sr, dur,
        min_snr_db=min_snr_db, ref_seed=ref_seed, metrics=False,
    )[:3]


def make_audio_check_udf(min_snr_db: float, ref_seed: int):
    """Build the vectorized (clip_id, bytes, codec, sr, dur) → struct UDF."""

    @pandas_udf(_AUDIO_RESULT)
    def check(
        clip_id: pd.Series,
        payload: pd.Series,
        codec: pd.Series,
        sr: pd.Series,
        dur: pd.Series,
    ) -> pd.DataFrame:
        oks, snrs, errs = [], [], []
        for cid, b, c, s, d in zip(clip_id, payload, codec, sr, dur):
            ok, db, err = check_clip(
                cid,
                bytes(b) if b is not None else None,
                c,
                s,
                d,
                min_snr_db=min_snr_db,
                ref_seed=ref_seed,
            )
            oks.append(ok)
            snrs.append(db)
            errs.append(err)
        return pd.DataFrame({"ok": oks, "snr_db": snrs, "err": errs})

    return check


def with_audio_checks(
    df: DataFrame,
    rule,
    *,
    key_col: str = "clip_id",
    qc: bool = False,
    compute_snr: bool = True,
) -> DataFrame:
    """Append __audio_ok / __audio_snr_db / __audio_err; DROP the payload
    column (nothing downstream of the check needs `bytes`). With
    ``qc=True`` additionally emits __audio_silence_ratio /
    __audio_clip_ratio / __audio_rms from the SAME single decode
    (check_clip_qc) — AudioQcRule's inputs never cost a second pass, and
    they are NULL on decode failure so QC fences silently skip payloads
    the decode rule already owns. ``compute_snr=False`` (QC-only
    rulesets: no AudioDecodeRule declared) skips the golden-signal
    synthesis + SNR per clip — roughly half the per-clip CPU — and emits
    __audio_ok = decoded / __audio_snr_db NULL, which nothing consumes
    in that configuration.

    One zero-copy `map_payloads` pass (functions/payload.py explains why
    mapInArrow and not a pandas UDF).
    """
    from .payload import map_payloads

    kw = dict(min_snr_db=float(rule.min_snr_db), ref_seed=int(rule.ref_seed))
    fields = [
        StructField("__audio_ok", BooleanType()),
        StructField("__audio_snr_db", DoubleType()),
        StructField("__audio_err", StringType()),
    ]
    if qc:
        kw["snr"] = compute_snr
        fields += [
            StructField(f"__audio_{m}", DoubleType())
            for m in ("silence_ratio", "clip_ratio", "rms")
        ]
    check = check_clip_qc if qc else check_clip

    def kernel(payload, clip_id, codec, sr, dur):
        return check(clip_id, payload, codec, sr, dur, **kw)

    return map_payloads(
        df,
        rule.bytes_column,
        [key_col, rule.codec_column, rule.sr_column, rule.dur_column],
        kernel,
        fields,
    )
